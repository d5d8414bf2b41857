package graft

import java.net.URI
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager,
  FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.streaming.Trigger

import graft.expr.PipelineConfig
import graft.io.{FileJsonSource, ParquetDlqSink, PosixLocalFileSystem, RecordSink}
import graft.pipeline.BatchOrchestrator
import graft.schema.SchemaProvider
import graft.streaming.StreamJob

/** The fork-free local file system and the session entries
  * `StreamJob.start` sets to select it.
  */
class LocalFsSpec extends SparkSpec {

  private def tmp(): String = Files.createTempDirectory("graft-localfs").toString

  private def posixFs(): PosixLocalFileSystem = {
    val fs = new PosixLocalFileSystem
    fs.initialize(URI.create("file:///"), new Configuration())
    fs
  }

  private def perm(octal: String) = new FsPermission(Integer.parseInt(octal, 8).toShort)

  private def mode(p: String): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(Paths.get(p)))

  test("files and directories get Hadoop's modes: umask defaults and explicit ones") {
    val fs = posixFs()
    val dir = tmp()
    val umask = FsPermission.getUMask(fs.getConf)
    fs.create(new Path(s"$dir/part-0")).close()
    assert(mode(s"$dir/part-0") == "rw-r--r--")
    assert(mode(s"$dir/.part-0.crc") == "rw-r--r--")
    assert(fs.mkdirs(new Path(s"$dir/a/b"), FsPermission.getDirDefault.applyUMask(umask)))
    assert(mode(s"$dir/a/b") == "rwxr-xr-x")

    fs.setPermission(new Path(s"$dir/part-0"), perm("600"))
    assert(mode(s"$dir/part-0") == "rw-------")
    fs.setPermission(new Path(s"$dir/a/b"), perm("750"))
    assert(mode(s"$dir/a/b") == "rwxr-x---")
  }

  test("the nine mode bits map in-process; a sticky bit falls back to Hadoop's chmod") {
    for (m <- Seq("644", "755", "600", "750", "000", "777", "421"))
      assert(PosixLocalFileSystem.posixSet(perm(m)).map(PosixFilePermissions.toString)
        .contains(perm(m).toString), m)
    val sticky = perm("1755")
    assert(PosixLocalFileSystem.posixSet(sticky).isEmpty)
    val dir = tmp()
    posixFs().setPermission(new Path(dir), sticky)
    val unixMode = Files.getAttribute(Paths.get(dir), "unix:mode").asInstanceOf[Int]
    assert((unixMode & 0xfff) == Integer.parseInt("1755", 8))
  }

  test("a checkpoint on file: selects the FileSystem manager; any other keeps Spark's default") {
    val conf = new Configuration()
    assert(StreamJob.onLocalFs("/tmp/ckpt", conf))
    assert(StreamJob.onLocalFs("file:/tmp/ckpt", conf))
    assert(!StreamJob.onLocalFs("hdfs://nn:8020/ckpt", conf))
    assert(!StreamJob.onLocalFs("s3a://bucket/ckpt", conf))
    conf.set("fs.defaultFS", "hdfs://nn:8020")
    assert(!StreamJob.onLocalFs("ckpt", conf))

    val session = spark.newSession()
    def manager: CheckpointFileManager = CheckpointFileManager.create(new Path(tmp()),
      session.sessionState.newHadoopConf())
    StreamJob.configure(session, tmp())
    assert(manager.isInstanceOf[FileSystemBasedCheckpointFileManager])
    StreamJob.configure(session, "hdfs://nn:8020/ckpt")
    assert(session.conf.getOption(StreamJob.CheckpointManager._1).isEmpty)
    assert(manager.isInstanceOf[FileContextBasedCheckpointFileManager])
  }

  test("a StreamJob batch writes file: through graft's FS and checkpoints through FileSystem") {
    val provider = SchemaProvider.fromDescribeRows(Seq("id" -> "Int64"))
    val topic = s"${tmp()}/topic"
    val out = tmp()
    val checkpoint = s"$out/checkpoint"
    spark.range(0, 10, 1, 2).selectExpr("to_json(named_struct('id', id)) AS value")
      .write.text(topic)
    @volatile var batchSession: SparkSession = null
    val capture = new RecordSink {
      def write(df: DataFrame): Boolean = { batchSession = df.sparkSession; df.count() > 0 }
    }
    val orch = new BatchOrchestrator(provider, PipelineConfig(stringEnumCols = Set.empty),
      capture, new ParquetDlqSink(s"$out/dlq"), _ => ())
    StreamJob.start(new FileJsonSource(topic).load(spark), orch, checkpoint,
      Trigger.AvailableNow()).awaitTermination()

    assert(orch.lastStats.get.validRows.contains(10L))
    val conf = batchSession.sessionState.newHadoopConf()
    assert(FileSystem.get(URI.create("file:///"), conf).isInstanceOf[PosixLocalFileSystem])
    assert(CheckpointFileManager.create(new Path(checkpoint), conf)
      .isInstanceOf[FileSystemBasedCheckpointFileManager])
    assert(Files.exists(Paths.get(s"$checkpoint/offsets/0")))
    assert(Files.exists(Paths.get(s"$checkpoint/commits/0")))
    assert(mode(s"$checkpoint/offsets/0") == "rw-r--r--")
  }
}
