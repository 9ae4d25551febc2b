package ocrspark.lake

import java.io.File
import java.net.URI
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{array_sort, col, map_entries}
import org.scalatest.funsuite.AnyFunSuite

import ocrspark.SparkSuite
import ocrspark.job.{ExtractJob, IncrementalExtract, Synth}

/** Snapshot-commit + resume semantics (north rule: resume from last
  * committed snapshot without recomputing finished partitions). */
class LakeSpec extends AnyFunSuite with SparkSuite {

  def freshTable(): LakeTable =
    new LakeTable(Files.createTempDirectory(root, "lake").toString)

  lazy val pages = {
    val df = Synth.pagesDF(spark, sfDir)
    df.cache(); df.count(); df
  }

  /** The number of Spark jobs `body` runs; `group` names them. */
  def jobs(group: String)(body: => Unit): Int = {
    val sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try body finally sc.clearJobGroup()
    sc.statusTracker.getJobIdsForGroup(group).length
  }

  /** The command lines of the processes the JVM starts while `body`
    * runs (JFR `jdk.ProcessStart` events). */
  def processStarts(body: => Unit): Seq[String] = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try body finally rec.stop()
    val dump = Files.createTempFile(root, "processes", ".jfr")
    try rec.dump(dump) finally rec.close()
    RecordingFile.readAllEvents(dump).asScala.toSeq
      .filter(_.getEventType.getName == "jdk.ProcessStart")
      .map(e => s"${e.getThread.getJavaName}: ${e.getString("command")}")
  }

  /** Every path under `dir`, `dir` included, as its kind ("dir",
    * "crc" or "file") and its POSIX bits. */
  def modes(dir: String): Set[(String, String)] = {
    val paths = Files.walk(Paths.get(dir))
    try paths.iterator().asScala.map { p =>
      val kind =
        if (Files.isDirectory(p)) "dir"
        else if (p.getFileName.toString.endsWith(".crc")) "crc"
        else "file"
      kind -> PosixFilePermissions.toString(Files.getPosixFilePermissions(p))
    }.toSet finally paths.close()
  }

  /** `df` with its map column as sorted entries: set operations take
    * no map column. */
  def comparable(df: DataFrame): DataFrame =
    df.withColumn("fields", array_sort(map_entries(col("fields"))))

  /** A table with snapshot 1 = buckets < `below` and snapshot 2 = all. */
  def twoSnapshots(below: Int = 20): LakeTable = {
    val t = freshTable()
    IncrementalExtract.run(spark,
      pages.filter(ExtractJob.bucketCol(ExtractJob.DefaultBuckets) < below), t)
    IncrementalExtract.run(spark, pages, t)
    t
  }

  test("full run commits snapshot 1; read() sees exactly the extracted rows") {
    val t = freshTable()
    val s = IncrementalExtract.run(spark, pages, t)
    assert(s.snapshotId == 1L)
    assert(!s.noop)
    assert(s.docsProcessed == 500L)
    assert(t.read(spark).count() == 500L)
    val lineage = t.lineage(spark)
    import spark.implicits._
    assert(lineage.agg(org.apache.spark.sql.functions.sum($"n_docs"))
      .as[Long].collect()(0) == 500L)
    assert(lineage.count() == s.bucketsWritten.toLong)
    // metrics counters written per stage per snapshot
    val m = t.metrics(spark)
    val counters = m.filter($"snapshot_id" === 1L && $"stage" === "extract")
      .select($"counter", $"value").as[(String, Long)].collect().toMap
    assert(counters("docs_in") == 500L)
    assert(counters("successful") + counters("failed") == 500L)
    assert(counters("buckets_written") == s.bucketsWritten.toLong)
  }

  test("re-run on a fully committed table is a no-op (idempotence)") {
    val t = freshTable()
    IncrementalExtract.run(spark, pages, t)
    val s2 = IncrementalExtract.run(spark, pages, t)
    assert(s2.noop)
    assert(t.currentSnapshotId.contains(1L))
    assert(t.read(spark).count() == 500L)
  }

  test("resume after partial commit touches ONLY uncommitted buckets") {
    import spark.implicits._
    val t = freshTable()
    val nB = ExtractJob.DefaultBuckets
    // first run: only buckets < 20 (simulated partial job)
    val partial = pages.filter(ExtractJob.bucketCol(nB) < 20)
    val s1 = IncrementalExtract.run(spark, partial, t)
    assert(t.committedBuckets.forall(_ < 20))
    val committedDocs = t.read(spark).count()

    // resume with FULL input
    val s2 = IncrementalExtract.run(spark, pages, t)
    assert(s2.snapshotId == 2L)
    // no recompute: processed docs == docs outside committed buckets
    assert(s2.docsProcessed == 500L - committedDocs)
    // provenance: buckets <20 still credited to snapshot 1
    val added = t.lineage(spark)
      .select($"bucket", $"snapshot_id").as[(Int, Long)].collect().toMap
    added.foreach { case (b, snap) =>
      assert(snap == (if (b < 20) 1L else 2L), s"bucket $b added=$snap")
    }
    assert(t.read(spark).count() == 500L)
    // byte-level equal to a one-shot run (same rows, same text)
    val oneShot = ExtractJob.run(pages)
    val diff = t.read(spark).select($"url", $"text")
      .join(oneShot.select($"url", $"text".as("t2")), Seq("url"), "full_outer")
      .filter(!($"text" <=> $"t2")).count()
    assert(diff == 0L)
  }

  test("snapshot counters and lineage reconcile with the rows read back") {
    import spark.implicits._
    val t = freshTable()
    val nB = ExtractJob.DefaultBuckets
    IncrementalExtract.run(spark, pages.filter(ExtractJob.bucketCol(nB) < 20), t)
    IncrementalExtract.run(spark, pages, t)
    val readBack = t.read(spark).withColumn("bucket", ExtractJob.bucketCol(nB))
    val wrote = t.snapshot(2).buckets.filter(_.added == 2L).map(_.bucket)
    assert(wrote.nonEmpty)
    val counters = t.metrics(spark)
      .filter($"snapshot_id" === 2L && $"stage" === "extract")
      .select($"counter", $"value").as[(String, Long)].collect().toMap
    val direct = ExtractJob.metrics(readBack.filter($"bucket".isin(wrote: _*)))
    val longCounters = direct.schema.fields
      .filter(_.dataType == org.apache.spark.sql.types.LongType).map(_.name)
    val expected = direct.collect()(0)
    assert(counters.keySet ==
      longCounters.toSet ++ Set("buckets_written", "buckets_skipped"))
    longCounters.foreach { k =>
      assert(counters(k) == expected.getAs[Long](k), k)
    }
    assert(counters("buckets_written") == wrote.size.toLong)
    assert(counters("buckets_skipped") == t.snapshot(1).buckets.size.toLong)
    // every lineage n_docs is its bucket's read-back row count
    val perBucket = readBack.groupBy($"bucket").count()
      .as[(Int, Long)].collect().toMap
    val lineage = t.lineage(spark).select($"bucket", $"n_docs")
      .as[(Int, Long)].collect().toMap
    assert(lineage == perBucket)
    // every snapshot carries its own counters in its manifest: its
    // docs_in is the docs of the buckets it added
    (1L to t.currentSnapshotId.get).foreach { id =>
      val s = t.snapshot(id)
      val extract = s.metrics.getOrElse("extract", Nil).toMap
      assert(extract.get("docs_in").contains(
        s.buckets.filter(_.added == id).map(_.nDocs).sum), s"snapshot $id")
    }
    // a later stage's counters join an existing snapshot's manifest
    // and leave the extract stage as it was
    val before = t.metrics(spark).as[ocrspark.model.MetricRow].collect().toSet
    t.writeMetrics(spark, 1L, "audit", Seq("rows_checked" -> 7L))
    val after = t.metrics(spark).as[ocrspark.model.MetricRow].collect().toSet
    assert(after == before + ocrspark.model.MetricRow(1L, "audit", "rows_checked", 7L))
    assert(t.currentSnapshotId.contains(2L))
  }

  test("a resumed commit runs at most 2 Spark jobs") {
    val t = freshTable()
    val nB = ExtractJob.DefaultBuckets
    IncrementalExtract.run(spark, pages.filter(ExtractJob.bucketCol(nB) < 20), t)
    val resumed = jobs("lake-resume")(IncrementalExtract.run(spark, pages, t))
    assert(t.currentSnapshotId.contains(2L))
    assert(resumed <= 2, s"resumed commit ran $resumed jobs")
    val noop = jobs("lake-noop")(assert(IncrementalExtract.run(spark, pages, t).noop))
    assert(noop <= 2, s"no-op ran $noop jobs")
  }

  test("a commit and a no-op rerun start no process") {
    // one-time probes of the JVM, not of a commit: the first Hadoop
    // write's `Shell` set-up (`setsid`) and the page size that Spark's
    // executor metrics read once (`getconf PAGESIZE`)
    IncrementalExtract.run(spark, pages, freshTable())
    Class.forName("org.apache.spark.executor.ProcfsMetricsGetter$")
    val t = freshTable()
    val commit = processStarts(IncrementalExtract.run(spark, pages, t))
    assert(t.currentSnapshotId.contains(1L))
    assert(commit.isEmpty, s"commit started ${commit.size}: ${commit.take(3)}")
    val noop = processStarts(assert(IncrementalExtract.run(spark, pages, t).noop))
    assert(noop.isEmpty, s"no-op started ${noop.size}: ${noop.take(3)}")
  }

  test("staged files keep the permission bits and .crc files of a plain write") {
    val t = freshTable()
    IncrementalExtract.run(spark, pages, t)
    val plain = root.resolve("plain-write").toString
    ExtractJob.run(pages, ExtractJob.DefaultBuckets)
      .write.partitionBy("bucket").parquet(plain)
    val staged = modes(t.stagingDir(1))
    assert(staged == modes(plain))
    assert(staged == Set("dir" -> "rwxr-xr-x", "file" -> "rw-r--r--",
      "crc" -> "rw-r--r--"))
    t.snapshot(1).buckets.flatMap(_.files).foreach { f =>
      val file = new File(f)
      assert(new File(file.getParent, s".${file.getName}.crc").isFile, f)
    }
    // bits other than the defaults land too, on the file and its .crc
    val fs = new LakeTable.LocalFs
    fs.initialize(new URI("file:///"), spark.sparkContext.hadoopConfiguration)
    val file = new File(t.snapshot(1).buckets.head.files.head)
    fs.setPermission(new HPath(file.toURI), new FsPermission("640"))
    Seq(file, new File(file.getParent, s".${file.getName}.crc")).foreach { f =>
      assert(PosixFilePermissions.toString(
        Files.getPosixFilePermissions(f.toPath)) == "rw-r-----", f)
    }
  }

  test("the lake write's file system stays out of the session") {
    val hadoopConf = spark.sparkContext.hadoopConfiguration
    val local = new URI("file:///")
    // the session's own `file:` class (Hive's jars register a proxy)
    val before = FileSystem.getFileSystemClass("file", hadoopConf)
    val t = freshTable()
    IncrementalExtract.run(spark, pages, t)
    assert(spark.conf.getOption("fs.file.impl").isEmpty)
    assert(hadoopConf.get("fs.file.impl") == null)
    assert(spark.sessionState.newHadoopConf().get("fs.file.impl") == null)
    assert(FileSystem.getFileSystemClass("file", hadoopConf) == before)
    assert(FileSystem.get(local, hadoopConf).getClass == before)
    assert(!FileSystem.get(local, hadoopConf).isInstanceOf[LakeTable.LocalFs])
  }

  test("a commit with AQE off reads back what an AQE commit of the same pages does") {
    // Spark drops the writer's rebalance hint with AQE off, so the write
    // runs unshuffled: only the file count may differ
    val aqe = "spark.sql.adaptive.enabled"
    val before = spark.conf.get(aqe)
    val off = freshTable()
    spark.conf.set(aqe, "false")
    try IncrementalExtract.run(spark, pages, off) finally spark.conf.set(aqe, before)
    val on = freshTable()
    IncrementalExtract.run(spark, pages, on)
    val (offSnap, onSnap) = (off.snapshot(1), on.snapshot(1))
    assert(offSnap.buckets.map(b => b.bucket -> b.nDocs).toMap ==
      onSnap.buckets.map(b => b.bucket -> b.nDocs).toMap)
    assert(offSnap.metrics == onSnap.metrics)
    assert(off.read(spark).count() == 500L)
    assert(comparable(off.read(spark)).exceptAll(comparable(on.read(spark))).isEmpty)
    assert(comparable(on.read(spark)).exceptAll(comparable(off.read(spark))).isEmpty)
    // each unshuffled input task writes its own file per bucket it holds
    def files(t: LakeTable) = t.snapshot(1).buckets.map(_.files.size).sum
    assert(files(off) > files(on), s"${files(off)} files with AQE off, ${files(on)} on")
  }

  test("uncommitted staged files are invisible to readers") {
    val t = freshTable()
    IncrementalExtract.run(spark, pages, t)
    // orphan staging dir (simulated crashed writer)
    val orphan = new java.io.File(t.stagingDir(99), "bucket=3")
    orphan.mkdirs()
    Files.write(new java.io.File(orphan, "junk.parquet").toPath,
      "not parquet".getBytes)
    assert(t.read(spark).count() == 500L)
    assert(t.currentSnapshotId.contains(1L))
  }

  test("commit chain: snapshots are monotone and parent-linked") {
    val t = freshTable()
    val s1 = IncrementalExtract.run(spark,
      pages.filter(ExtractJob.bucketCol(ExtractJob.DefaultBuckets) < 10), t)
    val s2 = IncrementalExtract.run(spark, pages, t)
    val snap2 = t.snapshot(2)
    assert(snap2.parent == 1L)
    assert(t.lineageHistory(spark).count() >=
      t.lineage(spark).count())
  }

  test("time travel: readAt(id) reproduces every historical snapshot") {
    import spark.implicits._
    val t = freshTable()
    val nB = ExtractJob.DefaultBuckets
    // data files don't carry the bucket column (it's the partition dir,
    // and read() scans the manifest's file list) — re-derive it from url
    def withBucket(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("b", ExtractJob.bucketCol(nB))
    IncrementalExtract.run(spark, pages.filter(ExtractJob.bucketCol(nB) < 20), t)
    val snap1Docs = t.read(spark).count()
    IncrementalExtract.run(spark, pages, t)
    assert(t.read(spark).count() == 500L)
    // snapshot 1 is still exactly reproducible after snapshot 2 landed
    assert(t.readAt(spark, 1).count() == snap1Docs)
    assert(withBucket(t.readAt(spark, 1)).select($"b").distinct()
      .as[Int].collect().forall(_ < 20))
    assert(t.readAt(spark, 2).count() == 500L)
    // overwrite bucket 3 in snapshot 3 (one replacement row): current
    // read sees the replacement, readAt(2) still sees the original rows
    val bucket3Old = withBucket(t.read(spark)).filter($"b" === 3).count()
    assert(bucket3Old > 1L, "fixture needs a multi-row bucket 3")
    val staging = new java.io.File(t.stagingDir(3)).getPath
    withBucket(t.read(spark)).filter($"b" === 3).drop("b").limit(1)
      .write.parquet(s"$staging/bucket=3")
    val files = new java.io.File(s"$staging/bucket=3").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getPath).toSeq
    t.commit(Seq(t.BucketEntry(3, files, nDocs = 1L, nBytes = 0L)))
    assert(withBucket(t.read(spark)).filter($"b" === 3).count() == 1L)
    assert(withBucket(t.readAt(spark, 2)).filter($"b" === 3).count() == bucket3Old)
    // history outside the overwritten bucket is shared, not duplicated
    assert(t.read(spark).count() == 500L - bucket3Old + 1L)
    intercept[IllegalArgumentException] { t.readAt(spark, 4) }
  }

  test("read and readAt plan from the manifest: no Spark job before the action") {
    // above 32 paths a listing read would list the files in a Spark job;
    // a small bucket is one file, so snapshot 1 needs 40 buckets
    val t = twoSnapshots(below = 40)
    assert(t.snapshot(1).buckets.map(_.files.size).sum >= 33)
    assert(t.snapshot(2).buckets.map(_.files.size).sum >= 33)
    val read = jobs("lake-read")(t.read(spark))
    assert(read == 0, s"read ran $read jobs")
    val readAt = jobs("lake-read-at")(t.readAt(spark, 1))
    assert(readAt == 0, s"readAt ran $readAt jobs")
    // the manifest records every file's size as the file system has it
    t.snapshot(2).buckets.foreach { b =>
      assert(b.sizes == b.files.map(f => new java.io.File(f).length()), s"bucket ${b.bucket}")
    }
  }

  test("read and readAt return what a listing read of their files returns") {
    val t = twoSnapshots()
    // snapshot 3 overwrites the buckets >= 40 through a paths-only
    // commit of a plain partitioned write
    val nB = ExtractJob.DefaultBuckets
    val staging = t.stagingDir(3)
    ExtractJob.run(pages.filter(ExtractJob.bucketCol(nB) >= 40), nB)
      .write.partitionBy("bucket").parquet(staging)
    t.commit(LakeTable.stagedEntries(staging).map { case (b, files) =>
      t.BucketEntry(b, files.map(_.getAbsolutePath), nDocs = 0L, nBytes = 0L)
    })
    def same(manifested: DataFrame, id: Long): Unit = {
      val listed = spark.read.parquet(t.snapshot(id).buckets.flatMap(_.files): _*)
      assert(manifested.schema == listed.schema, s"snapshot $id")
      assert(comparable(manifested).exceptAll(comparable(listed)).isEmpty, s"snapshot $id")
      assert(comparable(listed).exceptAll(comparable(manifested)).isEmpty, s"snapshot $id")
    }
    same(t.read(spark), 3L)
    same(t.readAt(spark, 1), 1L)
    same(t.readAt(spark, 2), 2L)
    assert(t.read(spark).count() == 500L)
  }

  test("a commit whose file changes the table's schema is refused") {
    import spark.implicits._
    val t = freshTable()
    IncrementalExtract.run(spark, pages, t)
    val before = t.read(spark).schema
    val staging = t.stagingDir(2)
    t.read(spark).drop("error").withColumn("extra", $"text").limit(3)
      .write.parquet(s"$staging/bucket=3")
    val files = new java.io.File(s"$staging/bucket=3").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getPath).toSeq
    intercept[IllegalArgumentException] {
      t.commit(Seq(t.BucketEntry(3, files, nDocs = 3L, nBytes = 0L)))
    }
    assert(t.currentSnapshotId.contains(1L))
    assert(t.read(spark).schema == before)
    assert(t.read(spark).count() == 500L)
  }

  test("a missing data file fails the read's action, not with fewer rows") {
    val t = freshTable()
    IncrementalExtract.run(spark, pages, t)
    val victim = new java.io.File(t.snapshot(1).buckets.head.files.head)
    assert(victim.delete())
    // planning reads only the manifest, so the scan finds the hole
    val df = t.read(spark)
    intercept[org.apache.spark.SparkException] { df.count() }
  }
}
