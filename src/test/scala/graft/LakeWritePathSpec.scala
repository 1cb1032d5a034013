package graft

import graft.feed.BinlogFeedGen
import graft.feed.BinlogFeedGen.FeedConfig
import graft.stream.{CdcIngestJob, IngestConfig}
import graft.table.{GraftLake, NioLocalFileSystem}
import org.apache.hadoop.fs.{FileStatus, FileSystem, LocatedFileStatus, RemoteIterator,
  Path => HPath}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import java.net.URI
import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.PosixFilePermissions
import scala.jdk.CollectionConverters._

/** The one write-and-commit path's per-file outputs on a local lake: the
  * row count each manifest entry carries, and the files, sidecars and mode
  * bits the write leaves on disk. */
class LakeWritePathSpec extends SparkSuite {

  private val schema = StructType(Seq(StructField("repo", StringType),
    StructField("path", StringType), StructField("n", LongType)))

  private def rows(n: Int) = spark.range(n).select(
    concat(lit("repo-"), (col("id") % 7).cast("string")).as("repo"),
    concat(lit("src/p"), col("id").cast("string")).as("path"),
    col("id").as("n"))

  /** Rows per data file as Spark reads them back, keyed by manifest path. */
  private def rowsPerFile(files: Seq[GraftLake.FileEntry]): Map[String, Long] =
    spark.read.parquet(files.map(_.path): _*)
      .groupBy(input_file_name().as("f")).count().collect()
      .map(r => new java.net.URI(r.getString(0)).getPath -> r.getLong(1)).toMap

  test("writeData entries carry exactly the rows of their file, with the " +
    "footers read by local futures and by the executor footer job") {
    val lake = new GraftLake(tmp("rows"), 8)
    Seq(8 -> 2000, 300 -> 6000).foreach { case (buckets, n) =>
      val files = lake.writeData(rows(n), schema, 0, batchId = buckets,
        delta = false, buckets = buckets)
      // > 256 files sends the footer reads to one executor-side job
      if (buckets == 300) assert(files.size > 256, s"${files.size} files")
      else assert(files.size == buckets)
      assert(files.map(_.rows).sum == n)
      assert(files.map(f => f.path -> f.rows).toMap == rowsPerFile(files))
    }
  }

  private def walk(root: String): Seq[Path] =
    Files.walk(Paths.get(root)).iterator().asScala.toSeq

  private def mode(p: Path): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(p))

  /** Every file under `dir` has mode `fileMode` and is no `.crc` sidecar,
    * and every directory has mode `dirMode`; returns the files. */
  private def checkModes(dir: String, fileMode: String, dirMode: String): Seq[Path] = {
    val (dirs, files) = walk(dir).partition(Files.isDirectory(_))
    assert(!files.exists(_.getFileName.toString.endsWith(".crc")),
      files.filter(_.getFileName.toString.endsWith(".crc")).mkString(", "))
    files.foreach(f => assert(mode(f) == fileMode, s"$f: ${mode(f)}"))
    dirs.foreach(d => assert(mode(d) == dirMode, s"$d: ${mode(d)}"))
    files
  }

  /** Generate a small feed and replay it into a fresh lake: every file and
    * directory of the feed has the mode Hadoop's default umask 022 gives,
    * every one of the lake the mode `umask` gives, and neither holds a
    * `.crc` sidecar. */
  private def checkLayout(name: String, umask: String,
      fileMode: String, dirMode: String): Unit = {
    val feed = tmp(s"feed-$name"); val root = tmp(s"lake-$name")
    BinlogFeedGen.writeFeed(spark, FeedConfig(nEvents = 1200, nKeys = 200,
      eventsPerFile = 300, decoyFrac = 0.0), feed)
    val conf = spark.sparkContext.hadoopConfiguration
    val key = "fs.permissions.umask-mode"
    val prev = Option(conf.get(key))
    conf.set(key, umask)
    try CdcIngestJob.replayBatch(spark, IngestConfig(feed, root, tmp(s"cp-$name"),
      nBuckets = 16))
    finally prev.fold(conf.unset(key))(conf.set(key, _))
    val feedFiles = checkModes(feed, "rw-r--r--", "rwxr-xr-x")
    assert(feedFiles.count(_.toString.endsWith(".parquet")) == 4)
    val files = checkModes(root, fileMode, dirMode)
    val parquet = files.filter(_.toString.endsWith(".parquet"))
    assert(parquet.size == 16, s"${parquet.size} data files")
    assert(files.exists(_.getFileName.toString.startsWith("snapshot-")))
  }

  test("a file: lake's files and directories keep Hadoop's mode bits " +
    "and get no .crc sidecars") {
    checkLayout("u022", "022", "rw-r--r--", "rwxr-xr-x")
    // a umask other than the process's shows the bits are really set
    checkLayout("u027", "027", "rw-r-----", "rwxr-x---")
  }

  test("opening a local lake leaves checksums on for every other user of " +
    "the JVM-wide file: FileSystem") {
    new GraftLake(tmp("crc-lake"), 4)
    val dir = Files.createDirectories(Paths.get(tmp("crc-other")))
    val shared = FileSystem.get(URI.create("file:///"),
      spark.sparkContext.hadoopConfiguration)
    val out = shared.create(new HPath(dir.resolve("x.bin").toUri))
    out.write(Array[Byte](1, 2, 3)); out.close()
    assert(Files.exists(dir.resolve(".x.bin.crc")),
      walk(dir.toString).mkString(", "))
  }

  test("the local lake FileSystem lists entries with the mode bits, owner " +
    "and group the stock one reads") {
    val root = Paths.get(tmp("list"))
    val sub = Files.createDirectories(root.resolve("a/b"))
    Seq(root.resolve("x.parquet") -> "rw-r-----", sub.resolve("y.parquet") -> "rwx------",
      sub -> "rwx--x--x").foreach { case (p, m) =>
      if (!Files.exists(p)) Files.write(p, Array[Byte](1, 2, 3))
      Files.setPosixFilePermissions(p, PosixFilePermissions.fromString(m))
    }
    val conf = spark.sparkContext.hadoopConfiguration
    val nio = new NioLocalFileSystem
    nio.initialize(URI.create("file:///"), conf)
    val stock = FileSystem.getLocal(conf)
    val dir = new HPath(root.toUri)
    def listed(it: RemoteIterator[LocatedFileStatus]) = {
      val b = Set.newBuilder[(HPath, Boolean, Long, String, String, String)]
      while (it.hasNext) {
        val st: FileStatus = it.next()
        b += ((st.getPath, st.isDirectory, st.getLen, st.getPermission.toString,
          st.getOwner, st.getGroup))
      }
      b.result()
    }
    val files = listed(nio.listFiles(dir, true))
    assert(files.map(_._1.getName) == Set("x.parquet", "y.parquet"))
    assert(files.map(_._4) == Set("rw-r-----", "rwx------"))
    assert(files == listed(stock.listFiles(dir, true)))
    assert(listed(nio.listLocatedStatus(new HPath(dir, "a"))) ==
      listed(stock.listLocatedStatus(new HPath(dir, "a"))))
  }
}
