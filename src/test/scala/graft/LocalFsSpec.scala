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

/** The fork-free local file system, the session policy a stream
  * starts under, and `StreamJob`'s conf window.
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

    val base = StreamJob.SessionPolicy +: StreamJob.LocalFsPolicy
    def manager(policy: Seq[(String, String)]): CheckpointFileManager = {
      val c = new Configuration()
      policy.foreach { case (k, v) => c.set(k, v) }
      CheckpointFileManager.create(new Path(tmp()), c)
    }
    val local = StreamJob.policy(tmp(), new Configuration())
    assert(local == base :+ StreamJob.CheckpointManager)
    assert(manager(local).isInstanceOf[FileSystemBasedCheckpointFileManager])
    val remote = StreamJob.policy("hdfs://nn:8020/ckpt", new Configuration())
    assert(remote == base)
    assert(manager(remote).isInstanceOf[FileContextBasedCheckpointFileManager])
    assert(StreamJob.policy("ckpt", conf) == base)

    // The policy holds for the query only: the caller's session is as it was.
    val session = spark.newSession()
    val keys = (base :+ StreamJob.CheckpointManager).map(_._1)
    val before = keys.map(session.conf.getOption)
    val topic = s"${tmp()}/topic"
    session.range(0, 4).selectExpr("to_json(named_struct('id', id)) AS value").write.text(topic)
    val orch = new BatchOrchestrator(SchemaProvider.fromDescribeRows(Seq("id" -> "Int64")),
      PipelineConfig(stringEnumCols = Set.empty),
      new RecordSink { def write(df: DataFrame): Boolean = df.count() > 0 },
      new ParquetDlqSink(s"${tmp()}/dlq"), _ => ())
    val q = StreamJob.start(new FileJsonSource(topic).load(session), orch, s"${tmp()}/checkpoint",
      Trigger.AvailableNow())
    assert(keys.map(session.conf.getOption) == before)
    q.awaitTermination()
    assert(orch.lastStats.get.validRows.contains(4L))
  }

  test("a judged drain runs under the policy on RocksDB and records its run") {
    val topic = tmp()
    spark.range(0, 100).selectExpr("id", "id % 5 AS g").write.mode("overwrite").parquet(topic)
    @volatile var batchSession: SparkSession = null
    StreamJob.drain(spark, "localfs_drain", StreamJob.RocksProvider) {
      spark.readStream.schema("id LONG, g LONG").parquet(topic).groupBy("g").count()
        .writeStream.outputMode("update").foreachBatch { (df: DataFrame, _: Long) =>
          batchSession = df.sparkSession
          df.foreach(_ => ()) // a stateful batch must run every partition
        }
    }
    val conf = batchSession.sessionState.newHadoopConf()
    assert(FileSystem.get(URI.create("file:///"), conf).isInstanceOf[PosixLocalFileSystem])
    assert(CheckpointFileManager.create(new Path(tmp()), conf)
      .isInstanceOf[FileSystemBasedCheckpointFileManager])
    assert(batchSession.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(batchSession.conf.get(StreamJob.RocksProvider.head._1) == StreamJob.RocksProvider.head._2)
    val run = PlanShape.lastStreamRun("localfs_drain").getOrElse(fail("no telemetry recorded"))
    assert(run.stateRows == 5, run)
  }

  test("the conf window restores a set key and unsets an absent one when its body throws") {
    val session = spark.newSession()
    val (set, absent) = ("spark.sql.shuffle.partitions", "graft.test.absent")
    session.conf.set(set, "3")
    val e = intercept[IllegalStateException] {
      StreamJob.withConf(session, Seq(set -> "9", absent -> "x")) {
        assert(session.conf.get(set) == "9" && session.conf.get(absent) == "x")
        throw new IllegalStateException("body failed")
      }
    }
    assert(e.getMessage == "body failed")
    assert(session.conf.get(set) == "3")
    assert(session.conf.getOption(absent).isEmpty)
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
