package graft

import java.net.URI
import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import graft.sources.{DeltaStore, StatementRunner}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, FileSystem, FSDataInputStream,
  LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

/** The engine's `file:` file system ([[NioLocalFileSystem]]): it is the
  * class every session gets, it gives new files and directories the
  * modes Hadoop's own local file system gives them, it keeps `.crc`
  * checksums, and the engine's writes start no process. */
class LocalFsSpec extends AnyFunSuite {
  private def spark = TestSession.spark
  private val root = URI.create("file:///")

  /** A file system of class `fs`, initialized on its own (not from
    * Hadoop's cache) with the umask `umask`. */
  private def fresh(fs: FileSystem, umask: String): FileSystem = {
    val conf = new Configuration()
    conf.set("fs.permissions.umask-mode", umask)
    fs.initialize(root, conf)
    fs
  }

  private def mode(p: java.nio.file.Path): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  test("file: paths resolve to the engine's class in every session") {
    val cls = classOf[NioLocalFileSystem]
    assert(FileSystem.get(root, spark.sparkContext.hadoopConfiguration)
      .getClass === cls)
    assert(FileSystem.get(root, spark.newSession().sessionState
      .newHadoopConf()).getClass === cls)
    // Hadoop caches one instance per scheme, whatever the configuration
    assert(FileSystem.get(root, new Configuration()).getClass === cls)
    assert(new Path("/tmp").getFileSystem(new Configuration())
      .getClass === cls)
  }

  test("new files and directories get Hadoop's default mode under the " +
      "configured umask") {
    val dir = Files.createTempDirectory("graft_fsmode")
    Seq("022", "077", "002").foreach { umask =>
      val ours = fresh(new NioLocalFileSystem, umask)
      val stock = fresh(new LocalFileSystem, umask)
      def made(fs: FileSystem, tag: String): Seq[Int] = {
        val base = new Path(dir.toString, s"$tag-$umask")
        fs.mkdirs(new Path(base, "d/e"))
        fs.mkdirs(new Path(base, "x"), new FsPermission("750"))
        val out = fs.create(new Path(base, "d/f"))
        out.write(1); out.close()
        Seq("d", "d/e", "x", "d/f", "d/.f.crc")
          .map(r => mode(Paths.get(base.toUri.getPath, r)))
      }
      val want = made(stock, "stock")
      assert(made(ours, "ours") === want, s"umask $umask")
      assert(want(3) === (0x1b6 & ~Integer.parseInt(umask, 8)),
        s"umask $umask: a new file is not 0666 under the umask")
    }
    // a sticky bit has no java.nio form: Hadoop's own path sets it
    val ours = fresh(new NioLocalFileSystem, "022")
    val sticky = new Path(dir.toString, "sticky")
    ours.mkdirs(sticky)
    ours.setPermission(sticky, new FsPermission("1777"))
    assert(mode(Paths.get(sticky.toUri.getPath)) === Integer.parseInt("1777", 8))
  }

  test(".crc checksums are still written and a flipped byte is detected") {
    // Hadoop moves a corrupt file to a `bad_files` directory at the top
    // of its mount; the test keeps it where it is
    val fs = fresh(new NioLocalFileSystem {
      override def reportChecksumFailure(p: Path, in: FSDataInputStream,
          inPos: Long, sums: FSDataInputStream, sumsPos: Long): Boolean =
        false
    }, "022")
    val dir = Files.createTempDirectory("graft_fscrc")
    val p = new Path(dir.toString, "data.bin")
    val bytes = Array.tabulate[Byte](2000)(i => (i % 251).toByte)
    val out = fs.create(p)
    out.write(bytes); out.close()
    assert(Files.exists(dir.resolve(".data.bin.crc")))
    val in = fs.open(p)
    val back = new Array[Byte](bytes.length)
    try in.readFully(back) finally in.close()
    assert(back.sameElements(bytes))
    val file = dir.resolve("data.bin")
    val raw = Files.readAllBytes(file)
    raw(1500) = (raw(1500) ^ 0x40).toByte
    Files.write(file, raw)
    intercept[ChecksumException] {
      val in2 = fs.open(p)
      try in2.readFully(new Array[Byte](bytes.length)) finally in2.close()
    }
  }

  test("a Parquet write, a DeltaStore append and flush, and an OUTFILE " +
      "start no process") {
    val dir = Files.createTempDirectory("graft_fsfork").toString
    val started = new ConcurrentLinkedQueue[String]()
    val sentinelSeen = new CountDownLatch(1)
    val sentinel = Seq("true", "graft-fork-sentinel")
    // a first write outside the window: the JVM's one-time set-up (Spark
    // reads the page size through a forked `getconf` once) is not a
    // per-write cost
    spark.range(10).write.parquet(s"$dir/warm-up")
    val rs = new jdk.jfr.consumer.RecordingStream()
    try {
      rs.enable("jdk.ProcessStart")
      rs.onEvent("jdk.ProcessStart", e => {
        val cmd = e.getString("command")
        if (cmd.contains(sentinel(1))) sentinelSeen.countDown()
        else if (sentinelSeen.getCount > 0) started.add(cmd)
      })
      rs.startAsync()
      spark.range(1000).selectExpr("id", "id * 2 AS v")
        .write.parquet(s"$dir/plain")
      val store = new DeltaStore(spark, s"$dir/store")
      store.writeBase(spark.range(10).selectExpr("id"))
      store.append(spark.range(10, 20).selectExpr("id").localCheckpoint())
      store.append(spark.createDataFrame(
        Seq(org.apache.spark.sql.Row(99L)).asJava, store.read().schema))
      store.flush()
      val runner = new StatementRunner(spark)
      runner.attach("forkless", store)
      runner.run(s"SELECT id FROM forkless INTO OUTFILE '$dir/out'").collect()
      // a process of the test's own marks the end of the window and
      // shows that the recording sees process starts
      new ProcessBuilder(sentinel: _*).start().waitFor()
      assert(sentinelSeen.await(60, TimeUnit.SECONDS),
        "the recording never saw the sentinel process")
    } finally rs.close()
    assert(started.isEmpty, s"processes started: ${started.asScala.toSeq}")
  }
}
