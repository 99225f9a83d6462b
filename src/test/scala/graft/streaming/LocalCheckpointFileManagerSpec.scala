package graft.streaming

import java.io.{File, FileNotFoundException, RandomAccessFile}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{ChecksumException, FileAlreadyExistsException, Path}
import org.apache.spark.sql.execution.streaming.checkpointing.{
  CheckpointFileManager, FileContextBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col

import graft.SparkSpec

/** The `file:` checkpoint file manager keeps the default manager's
  * contract (checksums, atomic publish, atomic no-overwrite, layout) and
  * moves checkpoints to and from it in both directions. */
class LocalCheckpointFileManagerSpec extends SparkSpec {
  import spark.implicits._

  private val ManagerKey = "spark.sql.streaming.checkpointFileManagerClass"
  private val Default = classOf[FileContextBasedCheckpointFileManager].getName

  private def tempDir(): File = {
    val dir = Files.createTempDirectory("graft-ckpt-fm").toFile
    org.apache.commons.io.FileUtils.forceDeleteOnExit(dir)
    dir
  }

  private def manager(dir: File): CheckpointFileManager =
    CheckpointFileManager.create(new Path(dir.toURI),
      spark.sessionState.newHadoopConf())

  private def write(fm: CheckpointFileManager, p: Path, text: String,
      overwrite: Boolean): Unit = {
    val out = fm.createAtomic(p, overwrite)
    out.write(text.getBytes(UTF_8))
    out.close()
  }

  private def read(fm: CheckpointFileManager, p: Path): String = {
    val in = fm.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  /** Every file name on disk, hidden ones included. */
  private def onDisk(dir: File): Set[String] = dir.list().toSet

  test("the session resolves file: paths to the graft manager, others to Spark's") {
    val conf = spark.sessionState.newHadoopConf()
    def underlying(p: String) = CheckpointFileManager.create(new Path(p), conf) match {
      case m: LocalCheckpointFileManager => m.underlying
      case other => fail(s"$p resolved to ${other.getClass.getName}")
    }
    val local = underlying(tempDir().toURI.toString)
    assert(local.isLocal && !local.isInstanceOf[FileContextBasedCheckpointFileManager])
    assert(!underlying(tempDir().getAbsolutePath)
      .isInstanceOf[FileContextBasedCheckpointFileManager])
    assert(underlying("hdfs://localhost:1/ckpt")
      .isInstanceOf[FileContextBasedCheckpointFileManager])
  }

  test("a no-overwrite publish over an existing file throws and leaves the target") {
    val dir = tempDir()
    val fm = manager(dir)
    val p = new Path(dir.toURI.toString, "0")
    write(fm, p, "first", overwrite = false)
    intercept[FileAlreadyExistsException] {
      write(fm, p, "second", overwrite = false)
    }
    assert(read(fm, p) == "first")
    assert(onDisk(dir) == Set("0", ".0.crc"))
    write(fm, p, "third", overwrite = true)
    assert(read(fm, p) == "third")
    assert(onDisk(dir) == Set("0", ".0.crc"))
  }

  test("cancel leaves neither the temp file nor its .crc") {
    val dir = tempDir()
    val out = manager(dir).createAtomic(new Path(dir.toURI.toString, "0"),
      overwriteIfPossible = false)
    out.write("partial".getBytes(UTF_8))
    assert(onDisk(dir).exists(_.endsWith(".tmp")))
    out.cancel()
    assert(onDisk(dir).isEmpty)
  }

  test("a flipped byte fails the checksum; a missing file is FileNotFound") {
    val dir = tempDir()
    val fm = manager(dir)
    val p = new Path(dir.toURI.toString, "1.delta")
    write(fm, p, "some state store delta bytes", overwrite = true)
    val raf = new RandomAccessFile(new File(dir, "1.delta"), "rw")
    try {
      val b = raf.read()
      raf.seek(0)
      raf.write(b ^ 0x01)
    } finally raf.close()
    intercept[ChecksumException](read(fm, p))
    assert(onDisk(dir) == Set("1.delta", ".1.delta.crc"))
    intercept[FileNotFoundException](fm.open(new Path(dir.toURI.toString, "2.delta")))
  }

  test("list hides .crc files") {
    val dir = tempDir()
    val fm = manager(dir)
    Seq("0", "1").foreach(n =>
      write(fm, new Path(dir.toURI.toString, n), n, overwrite = false))
    assert(onDisk(dir) == Set("0", "1", ".0.crc", ".1.crc"))
    assert(fm.list(new Path(dir.toURI)).map(_.getPath.getName).toSet ==
      Set("0", "1"))
  }

  private def withManager[T](cls: String)(body: => T): T = {
    val prev = spark.conf.get(ManagerKey)
    spark.conf.set(ManagerKey, cls)
    try body finally spark.conf.set(ManagerKey, prev)
  }

  /** Runs a keyed count over `in` with checkpoint `ckpt`, one micro-batch
    * per element of `batches`, and returns the final (key, count) table. */
  private def countBatches(in: MemoryStream[Int], ckpt: File,
      batches: Seq[Seq[Int]]): Map[Int, Long] = {
    val q = in.toDF().groupBy((col("value") % 3).as("k")).count()
      .writeStream.format("memory").queryName("ckpt_fm_counts")
      .outputMode("complete")
      .option("checkpointLocation", ckpt.getAbsolutePath)
      .start()
    try batches.foreach { b => in.addData(b); q.processAllAvailable() }
    finally q.stop()
    spark.table("ckpt_fm_counts").as[(Int, Long)].collect().toMap
  }

  private val batches = Seq(Seq(1, 2, 3), Seq(4, 5), Seq(6, 7, 8, 9, 10))
  private def counts(xs: Seq[Int]): Map[Int, Long] =
    xs.groupBy(_ % 3).map { case (k, vs) => k -> vs.size.toLong }
  private val expected = counts(batches.flatten)

  /** Paths under offsets/, commits/ and state/, relative to the root. */
  private def layout(root: File): Set[String] =
    Files.walk(root.toPath).iterator().asScala
      .filter(Files.isRegularFile(_))
      .map(root.toPath.relativize(_).toString)
      .filter(r => Seq("offsets/", "commits/", "state/").exists(r.startsWith))
      .toSet

  private def newStream(): MemoryStream[Int] = {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    MemoryStream[Int]
  }

  test("a 3-batch stateful query leaves the default manager's file layout") {
    val (graftCkpt, defaultCkpt) = (tempDir(), tempDir())
    assert(countBatches(newStream(), graftCkpt, batches) == expected)
    withManager(Default) {
      assert(countBatches(newStream(), defaultCkpt, batches) == expected)
    }
    val files = layout(graftCkpt)
    assert(files.contains("offsets/2") && files.contains("commits/.2.crc") &&
      files.contains("state/0/0/3.delta") && files.contains("state/0/0/.3.delta.crc"),
      files.toSeq.sorted.mkString("\n"))
    assert(!files.exists(_.endsWith(".tmp")))
    assert(files == layout(defaultCkpt))
  }

  test("a checkpoint restarts across managers in both directions") {
    val graftName = spark.conf.get(ManagerKey)
    Seq(Default -> graftName, graftName -> Default).foreach { case (first, second) =>
      val ckpt = tempDir()
      val in = newStream()
      withManager(first) {
        assert(countBatches(in, ckpt, batches.take(2)) ==
          counts(batches.take(2).flatten))
      }
      withManager(second) {
        assert(countBatches(in, ckpt, batches.drop(2)) == expected,
          s"$first -> $second")
      }
      assert(layout(ckpt).contains("commits/2"))
    }
  }
}
