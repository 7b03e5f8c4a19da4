package graft.io

import java.nio.file.{Files, LinkOption, Path => NioPath}

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, Path}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.{GraftSession, TestSpark}

/** The fork-free local FileContext filesystem that `GraftSession.tune`
  * registers under every streaming checkpoint: same files, sidecars and
  * modes as Hadoop's stock `LocalFs`, and no process spawned. */
class NioLocalFsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val key = "fs.AbstractFileSystem.file.impl"

  /** A listing row: a path under the root (relative, a temp file's
    * random UUID masked), its full mode in octal (setuid, setgid and
    * sticky bits too), its group and, for a file, its bytes. */
  private type Entry = (String, String, Int, Seq[Byte])

  private def listing(root: NioPath): Seq[Entry] =
    scala.util.Using.resource(Files.walk(root)) { w =>
      w.iterator().asScala.filter(_ != root).map { p =>
        def attr(name: String) = Files.getAttribute(p, s"unix:$name", LinkOption.NOFOLLOW_LINKS).asInstanceOf[Int]
        (root.relativize(p).toString.replaceAll("[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}", "<uuid>"),
          Integer.toOctalString(attr("mode") & 0xfff), attr("gid"),
          if (Files.isRegularFile(p)) Files.readAllBytes(p).toSeq else Seq.empty[Byte])
      }.toSeq.sortBy(_._1)
    }

  /** Writes the same checkpoint files through stock `LocalFs` under
    * `root/stock` and through the session's filesystem under `root/nio`;
    * returns both listings. */
  private def stockAndNio(root: NioPath): (Seq[Entry], Seq[Entry]) = {
    val conf = spark.sessionState.newHadoopConf()
    assert(conf.get(key) == classOf[NioLocalFs].getName)
    val stock = new Configuration(conf)
    stock.set(key, new Configuration().get(key))
    assert(stock.get(key) == "org.apache.hadoop.fs.local.LocalFs")
    def writeAll(c: Configuration, side: String): Unit = {
      val dir = new Path(root.resolve(side).toUri)
      val fm = CheckpointFileManager.create(dir, c)
      assert(fm.isInstanceOf[FileContextBasedCheckpointFileManager])
      fm.mkdirs(new Path(dir, "offsets/nested"))
      def put(name: String, body: String, overwrite: Boolean): Unit = {
        val out = fm.createAtomic(new Path(dir, name), overwriteIfPossible = overwrite)
        out.write(body.getBytes("UTF-8"))
        out.close()
      }
      put("offsets/0", "v1\n{\"a\":1}\n", overwrite = false)
      put("offsets/nested/1", "v1\n", overwrite = false)
      put("offsets/0", "v1\n{\"a\":2}\n", overwrite = true)
      intercept[FileAlreadyExistsException](put("offsets/0", "v1\n", overwrite = false))
      assert(fm.exists(new Path(dir, "offsets/0")))
    }
    writeAll(stock, "stock")
    writeAll(conf, "nio")
    assert(Files.readString(root.resolve("nio/offsets/0")) == "v1\n{\"a\":2}\n")
    (listing(root.resolve("stock")), listing(root.resolve("nio")))
  }

  test("checkpoint writes match stock LocalFs: file names and bytes, .crc sidecars, file and directory modes") {
    val (want, got) = stockAndNio(Files.createTempDirectory("niofs"))
    assert(want.map(_._1).contains("offsets/.0.crc"))
    assert(got == want)
  }

  test("under a setgid directory, checkpoint directories keep the inherited setgid bit, as with stock LocalFs") {
    val root = Files.createTempDirectory("niofs_setgid")
    Files.setAttribute(root, "unix:mode", 0x1ed | 0x400) // 0755 | S_ISGID
    val (want, got) = stockAndNio(root)
    assert(want.collect { case ("offsets/nested", mode, _, _) => mode } == Seq("2755"))
    assert(got == want)
  }

  /** Commands of the processes this JVM started while `body` ran. */
  private def spawnsDuring(body: => Unit): Seq[String] = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try body finally rec.stop()
    val f = Files.createTempFile("spawns", ".jfr")
    try {
      rec.dump(f)
      RecordingFile.readAllEvents(f).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .map(_.getString("command"))
    } finally { rec.close(); Files.deleteIfExists(f) }
  }

  /** Spawned commands of three micro-batches of a keyed count, each
    * committing offsets, state and commits through the checkpoint file
    * manager. One unrecorded batch first: the first state-store load
    * of a JVM also runs one-time native set-up. */
  private def spawnsOfStatefulRun(name: String, settings: (String, String)*): Seq[String] = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ckpt = Files.createTempDirectory(s"niofs_$name").resolve("ckpt").toString
    GraftSession.withConf(spark, settings: _*) {
      val in = MemoryStream[String]
      val q = in.toDS().groupBy("value").count()
        .writeStream.outputMode("update").format("memory").queryName(name)
        .option("checkpointLocation", ckpt).start()
      try {
        in.addData("a")
        q.processAllAvailable()
        val spawned = spawnsDuring {
          Seq(Seq("a", "b"), Seq("a"), Seq("c", "b")).foreach { batch =>
            in.addData(batch: _*)
            q.processAllAvailable()
          }
        }
        assert(spark.table(name).as[(String, Long)].collect().groupBy(_._1)
          .map { case (k, v) => k -> v.map(_._2).max } == Map("a" -> 3L, "b" -> 2L, "c" -> 1L))
        assert(q.lastProgress.batchId == 3L)
        spawned
      } finally q.stop()
    }
  }

  private val hdfsStateStore = "spark.sql.streaming.stateStore.providerClass" ->
    "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"

  test("stateful micro-batches spawn no process on the HDFS-backed state store; stock LocalFs does") {
    assert(spawnsOfStatefulRun("niofs_hdfs", hdfsStateStore).isEmpty)
    // the recording sees the stock filesystem's spawns at both sites
    val stock = spawnsOfStatefulRun("niofs_hdfs_stock", hdfsStateStore,
      key -> "org.apache.hadoop.fs.local.LocalFs")
    assert(stock.exists(_.startsWith("readlink ")) && stock.exists(_.startsWith("chmod ")))
  }

  test("RocksDB micro-batches: no spawn for a checkpoint-manager file; only SST uploads and local cleanup") {
    val spawned = spawnsOfStatefulRun("niofs_rocks", GraftSession.RocksDBStateStore)
    // RocksDBFileManager uploads SST files (and makes their directories)
    // through the FileSystem API (`fs.file.impl`, left at Hadoop's
    // default), and Spark deletes its local working copies with `rm -rf`;
    // the offsets and commits logs, metadata, changelog and zip files
    // all go through the checkpoint file manager and spawn nothing
    val rest = spawned.filterNot(c => c.startsWith("chmod ") &&
      "/ckpt/state/0/[0-9]+(/SSTs(/\\.?[0-9]+-[0-9a-f-]+\\.sst(\\.crc)?)?)?$".r.findFirstIn(c).isDefined)
    assert(rest.forall(c => c.startsWith("rm -rf ") && !c.contains("/ckpt/")), rest)
  }
}
