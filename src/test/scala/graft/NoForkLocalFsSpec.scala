package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileStatus, Options, Path,
  RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalFs
import org.apache.hadoop.fs.permission.FsPermission

import graft.sources.Staging
import graft.streaming.{NoForkLocalFs, NoForkRawLocalFileSystem, Streaming}

/** The streaming scope's local `FileContext` filesystem does what
  * Hadoop's does, without starting a process. */
class NoForkLocalFsSpec extends GraftSuite {
  private def init[F <: RawLocalFileSystem](fs: F): F = {
    fs.initialize(URI.create("file:///"), new Configuration())
    fs
  }
  private lazy val hadoop = init(new RawLocalFileSystem)
  private lazy val noFork = init(new NoForkRawLocalFileSystem)

  private def withTempDir[T](body: java.nio.file.Path => T): T = {
    val dir = Files.createTempDirectory("graft_nofork")
    try body(dir) finally Staging.deleteTree(dir)
  }

  test("setPermission sets the POSIX bits Hadoop's local filesystem sets") {
    withTempDir { dir =>
      for (mode <- Seq("600", "644", "700", "755"); kind <- Seq("file", "dir")) {
        val perm = new FsPermission(mode)
        val Seq(a, b) = Seq("hadoop", "nofork").map { n =>
          val p = dir.resolve(s"$kind-$mode-$n")
          if (kind == "file") Files.createFile(p) else Files.createDirectory(p)
          p
        }
        hadoop.setPermission(new Path(a.toString), perm)
        noFork.setPermission(new Path(b.toString), perm)
        assert(Files.getPosixFilePermissions(b) ==
          Files.getPosixFilePermissions(a), s"$kind $mode")
      }
    }
  }

  test("getFileLinkStatus matches Hadoop's on a file, a directory and a " +
      "symbolic link, and throws FileNotFoundException on a missing path") {
    withTempDir { dir =>
      val file = Files.write(dir.resolve("f"), "x".getBytes)
      val sub = Files.createDirectory(dir.resolve("d"))
      val link = Files.createSymbolicLink(dir.resolve("l"), file)
      def fields(s: FileStatus) = (s.getPath, s.isFile, s.isDirectory,
        s.isSymlink, if (s.isSymlink) s.getSymlink else null, s.getLen,
        s.getPermission, s.getModificationTime)
      for (p <- Seq(file, sub, link).map(p => new Path(p.toString))) {
        assert(fields(noFork.getFileLinkStatus(p)) ==
          fields(hadoop.getFileLinkStatus(p)), p)
      }
      assert(noFork.getFileLinkStatus(new Path(link.toString)).isSymlink)
      val missing = new Path(dir.resolve("missing").toString)
      intercept[FileNotFoundException](hadoop.getFileLinkStatus(missing))
      intercept[FileNotFoundException](noFork.getFileLinkStatus(missing))
    }
  }

  test("the streaming scope resolves the local FileContext to NoForkLocalFs, " +
      "which writes the checksum files and overwriting renames Hadoop's " +
      "LocalFs does; the scope leaves no conf entry") {
    def localFc = FileContext.getFileContext(URI.create("file:///"),
      spark.sessionState.newHadoopConf())
    val hadoopFc = localFc
    assert(hadoopFc.getDefaultFileSystem.getClass == classOf[LocalFs])
    withTempDir { dir =>
      Streaming.withStreamShuffle(spark) {
        val fc = localFc
        assert(fc.getDefaultFileSystem.getClass == classOf[NoForkLocalFs])
        // a checkpoint commit: write a temp file, rename it over the target
        for ((c, sub) <- Seq(hadoopFc -> "hadoop", fc -> "nofork")) {
          val Seq(tmp, dst) = Seq(".0.tmp", "0").map(n => new Path(s"$dir/$sub/$n"))
          for (p <- Seq(tmp, dst)) {
            val out = c.create(p, java.util.EnumSet.of(CreateFlag.CREATE),
              Options.CreateOpts.createParent())
            out.write(p.getName.getBytes)
            out.close()
          }
          c.rename(tmp, dst, Options.Rename.OVERWRITE)
        }
      }
      def bytes(sub: String) = dir.resolve(sub).toFile.listFiles.toSeq
        .map(f => f.getName -> Files.readAllBytes(f.toPath).toSeq).toMap
      assert(bytes("nofork").keySet == Set("0", ".0.crc"))
      assert(bytes("nofork") == bytes("hadoop"))
      assert(new String(bytes("nofork")("0").toArray) == ".0.tmp")
    }
    assert(spark.conf.getOption("fs.AbstractFileSystem.file.impl").isEmpty)
    assert(localFc.getDefaultFileSystem.getClass == classOf[LocalFs])
  }

  test("stream_stateful_counter starts no readlink or chmod process") {
    def starts(body: => Unit): Seq[String] = {
      val rec = new Recording()
      rec.enable("jdk.ProcessStart")
      val dump = Files.createTempFile("graft_nofork", ".jfr")
      try {
        rec.start()
        body
        rec.stop()
        rec.dump(dump)
        RecordingFile.readAllEvents(dump).asScala.toSeq
          .map(_.getString("command"))
          .filter(c => c.contains("readlink") || c.contains("chmod"))
      } finally { rec.close(); Files.deleteIfExists(dump) }
    }
    // control: the recording sees the chmod Hadoop's own filesystem forks
    withTempDir { dir =>
      val f = Files.createFile(dir.resolve("f"))
      assert(starts(hadoop.setPermission(new Path(f.toString),
        new FsPermission("644"))).size == 1)
    }
    val forked = starts {
      Streaming.queries("stream_stateful_counter")(spark, SparkTestBase.sf0001)
        .collect()
    }
    assert(forked.isEmpty, forked.mkString("; "))
  }
}
