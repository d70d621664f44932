package graft

import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{ChecksumFileSystem, FileSystem, LocalFileSystem}
import graft.sources.{NioLocalFileSystem, Storage}
import graft.streaming.DocumentStreams

/** Stored-table writes on the local file system set permissions without
  * forking a `chmod` per file, and leave the same files, checksums and
  * permission bits as Hadoop's own local file system. */
class LocalFileSystemSpec extends GraftSuite {
  import spark.implicits._

  private def location(table: String): JPath = {
    import org.apache.spark.sql.catalyst.TableIdentifier
    java.nio.file.Paths.get(spark.sessionState.catalog
      .getTableMetadata(TableIdentifier(table)).location)
  }

  test("bucketed write, append, compaction and maintenance fork no chmod; " +
      "files stay rw-r--r-- and directories rwxr-xr-x") {
    import jdk.jfr.Recording
    import jdk.jfr.consumer.RecordingFile
    val dir = Files.createTempDirectory("graft_nio_fs")
    dir.toFile.deleteOnExit()
    val docs = (0L until 40L).map(i => (i, s"document $i text")).toDF("doc_id", "text")
    val tables = Seq("nio_fs_docs", "nio_fs_ts")
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try {
      Storage.writeBucketed(docs, "nio_fs_docs", s"$dir/docs", buckets = 4)
      Storage.appendBucketed(docs.withColumn("doc_id", $"doc_id" + 100L),
        "nio_fs_docs", buckets = 4)
      Storage.compactBuckets(spark, "nio_fs_docs", buckets = 4)
      DocumentStreams.recordDeletions(Seq(3L).toDF("doc_id"), "nio_fs_ts", s"$dir/ts")
      DocumentStreams.runMaintenance(spark, Some("nio_fs_ts"),
        Seq(("nio_fs_docs", "doc_id", 4, "doc_id")))
      DocumentStreams.recordDeletions(Seq(5L).toDF("doc_id"), "nio_fs_ts", s"$dir/ts")
      rec.stop()
      val jfr = dir.resolve("process-start.jfr")
      rec.dump(jfr)
      val commands = RecordingFile.readAllEvents(jfr).asScala.map(_.getString("command"))
      assert(!commands.exists(_.contains("chmod")),
        s"forked chmod: ${commands.filter(_.contains("chmod")).take(3).mkString("; ")}")

      spark.catalog.refreshTable("nio_fs_docs")
      assert(Storage.readTable(spark, "nio_fs_docs").count() == 79)
      tables.map(location).foreach { loc =>
        val all = Files.walk(loc).iterator().asScala.toSeq
        def perms(p: JPath) = PosixFilePermissions.toString(Files.getPosixFilePermissions(p))
        val (dirs, files) = all.partition(Files.isDirectory(_))
        assert(files.exists(_.getFileName.toString.endsWith(".parquet")), s"no data in $loc")
        assert(files.exists(_.getFileName.toString.endsWith(".parquet.crc")),
          s"no checksums in $loc")
        files.foreach(f => assert(perms(f) == "rw-r--r--", s"$f"))
        dirs.foreach(d => assert(perms(d) == "rwxr-xr-x", s"$d"))
      }
    } finally {
      rec.close()
      tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`"))
    }
  }

  test("FileSystem.getLocal is still a checksummed LocalFileSystem") {
    val fs = FileSystem.getLocal(spark.sessionState.newHadoopConf())
    assert(fs.isInstanceOf[LocalFileSystem] && fs.isInstanceOf[ChecksumFileSystem])
    assert(fs.isInstanceOf[NioLocalFileSystem])
  }
}
