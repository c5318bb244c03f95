package graft

import java.net.URI
import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions
import java.util.EnumSet

import scala.jdk.CollectionConverters._
import scala.util.Try

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileSystem, LocalFileSystem, Options, Path}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.io.{ForklessLocalFileSystem, ForklessLocalFs}
import graft.queries.StreamingQueries

/** The `file:` filesystem [[Confs.tuned]] registers (`graft.io`'s
  * `ForklessLocalFileSystem` and, for `FileContext`, `ForklessLocalFs`):
  * local writes, checkpoint renames and state-store commits fork no
  * Hadoop `Shell` process, and where the code differs from stock Hadoop
  * the results do not.
  *
  * Hadoop caches one `FileSystem` per scheme per JVM, so the conf of the
  * first `FileSystem.get` on `file:` decides which class every later
  * cached caller gets, whatever conf that caller passes. Every main
  * builds its session before it touches a file, and so does this spec. */
class LocalFsSpec extends SparkSpecBase {
  private val local = URI.create("file:///")
  private def conf = spark.sessionState.newHadoopConf()
  private def qualified(p: JPath): Path = new Path(p.toUri)

  test("parquet writes and a stateful drain start no Hadoop Shell process") {
    val base = Files.createTempDirectory("localfs_jfr")
    val (feed, ckpt) = (s"$base/feed", s"$base/ckpt")
    spark.range(1) // the session exists before the recording starts
    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    rec.start()
    try {
      spark.range(400).select((col("id") % 13).as("k")).repartition(4).write.parquet(feed)
      StreamingQueries.drain(feed, ckpt, "localfs_drain") {
        spark.readStream.schema("k long").parquet(feed).groupBy(col("k")).count()
          .writeStream.format("memory").queryName("localfs_drain").outputMode("complete")
          .option("checkpointLocation", ckpt).trigger(Trigger.AvailableNow()).start()
      }
    } finally rec.stop()
    val dump = base.resolve("rec.jfr")
    rec.dump(dump)
    rec.close()
    assert(spark.table("localfs_drain").count() == 13)
    val shell = RecordingFile.readAllEvents(dump).asScala
      .filter(_.getEventType.getName == "jdk.ProcessStart")
      .filter(e => Option(e.getStackTrace).exists(_.getFrames.asScala
        .exists(_.getMethod.getType.getName.startsWith("org.apache.hadoop.util.Shell"))))
    assert(shell.isEmpty, s"${shell.size} Hadoop Shell process starts, e.g. " +
      shell.take(3).map(_.getString("command")).mkString("; "))
  }

  test("permissions, OVERWRITE renames and symlink status match stock Hadoop") {
    val base = Files.createTempDirectory("localfs_stock")
    val fs = FileSystem.newInstance(local, conf)
    val stock = new LocalFileSystem() // over the stock RawLocalFileSystem
    stock.initialize(local, conf)
    def perms(p: JPath) = PosixFilePermissions.toString(Files.getPosixFilePermissions(p))
    for ((name, f) <- Seq("graft" -> fs, "stock" -> stock)) {
      f.mkdirs(qualified(base.resolve(s"$name/d")))
      f.create(qualified(base.resolve(s"$name/f"))).close()
    }
    // the session umask (022) on Hadoop's 0777 dir / 0666 file defaults
    assert(Seq("graft", "stock").map(n => perms(base.resolve(s"$n/d"))) ==
      Seq("rwxr-xr-x", "rwxr-xr-x"))
    assert(Seq("graft", "stock").map(n => perms(base.resolve(s"$n/f"))) ==
      Seq("rw-r--r--", "rw-r--r--"))

    val fc = FileContext.getFileContext(local, conf)
    val (src, dst) = (base.resolve("src"), base.resolve("dst"))
    for ((p, body) <- Seq(src -> "new", dst -> "old")) {
      val out = fc.create(qualified(p), EnumSet.of(CreateFlag.CREATE))
      out.write(body.getBytes("UTF-8"))
      out.close()
    }
    fc.rename(qualified(src), qualified(dst), Options.Rename.OVERWRITE)
    assert(!Files.exists(src) && Files.readString(dst) == "new")

    val target = Files.writeString(base.resolve("target"), "x")
    val link = Files.createSymbolicLink(base.resolve("link"), target)
    def status(f: FileSystem, p: Path) = Try(f.getFileLinkStatus(p)).map { st =>
      (st.isSymlink, if (st.isSymlink) st.getSymlink.toString else "",
        st.getLen, st.isDirectory, st.getPath.toString)
    }.toEither.left.map(_.getClass.getName)
    for (p <- Seq(new Path(link.toString), qualified(link), qualified(target),
                  qualified(base.resolve("absent"))))
      assert(status(fs, p) == status(stock, p), s"getFileLinkStatus($p)")
    assert(status(fs, new Path(link.toString)).exists(_._1), "a real link reads as a link")
  }

  test("the session's Hadoop conf resolves file: to the graft classes") {
    assert(FileSystem.newInstance(local, conf).getClass == classOf[ForklessLocalFileSystem])
    assert(FileContext.getFileContext(local, conf).getDefaultFileSystem.getClass ==
      classOf[ForklessLocalFs])
  }
}
