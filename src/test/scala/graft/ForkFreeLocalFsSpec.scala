package graft

import graft.streaming.ForkFreeLocalFs
import graft.testkit.ProcessStarts
import graft.testkit.ProcessStarts.countProcessStarts
import java.nio.file.{Files, Path => JPath}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileContext, Options,
  Path}
import org.apache.hadoop.fs.local.LocalFs
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** [[ForkFreeLocalFs]] against Hadoop's stock `LocalFs`: Spark's checkpoint
  * writes start no process under it, and every operation a checkpoint makes
  * leaves the same files, bytes and permissions as under the stock binding.
  */
class ForkFreeLocalFsSpec extends AnyFunSuite {

  private val Stock = classOf[LocalFs].getName
  private val ForkFree = classOf[ForkFreeLocalFs].getName

  private def withDir[T](f: JPath => T): T = {
    val dir = Files.createTempDirectory("graft_fs")
    try f(dir) finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  private def conf(impl: String): Configuration = {
    val c = new Configuration()
    c.set(ForkFreeLocalFs.ImplKey, impl)
    c
  }

  private def put(fm: CheckpointFileManager, p: Path, text: String,
      overwrite: Boolean): Unit = {
    val out = fm.createAtomic(p, overwrite)
    out.write(text.getBytes("UTF-8"))
    out.close()
  }

  /** `record` around 20 atomic checkpoint writes, after one unrecorded
    * warm-up write */
  private def writes[T](impl: String)(record: (=> Unit) => T): T =
    withDir { dir =>
      val fm = CheckpointFileManager.create(new Path(dir.toUri), conf(impl))
      put(fm, new Path(dir.toUri.toString, "warm"), "w", overwrite = false)
      record {
        (1 to 20).foreach(i =>
          put(fm, new Path(dir.toUri.toString, s"f$i"), s"$i", overwrite = false))
      }
    }

  test("atomic checkpoint writes start no process") {
    val stock = writes(Stock)(countProcessStarts(_))
    assume(stock > 0,
      "the stock LocalFs starts no process either here (native libhadoop)")
    val forkFree = writes(ForkFree)(ProcessStarts.commands(_))
    assert(forkFree.isEmpty,
      s"${forkFree.size} processes started (stock: $stock): " +
        forkFree.distinct.take(5).mkString("; "))
  }

  /** A checkpoint's operations under one binding: what each throws, and the
    * tree left (relative path -> kind, permissions, mode, bytes). */
  private def exercise(impl: String): (Seq[String], Map[String, String]) =
    withDir { dir =>
      val c = conf(impl)
      val root = dir.toUri.toString
      val fm = CheckpointFileManager.create(new Path(root), c)
      val fc = FileContext.getFileContext(new Path(root).toUri, c)
      def p(rel: String) = new Path(root, rel)
      def attempt(op: => Unit): String =
        try { op; "ok" } catch { case e: Exception => e.getClass.getSimpleName }
      fm.mkdirs(p("a/b"))
      val outcomes = Seq(
        attempt(put(fm, p("a/b/f1"), "one", overwrite = false)),
        attempt(put(fm, p("a/b/f1"), "uno", overwrite = true)),
        attempt(put(fm, p("a/b/f1"), "eins", overwrite = false)),
        attempt(fc.rename(p("a/b/f1"), p("a/b/f2"), Options.Rename.OVERWRITE)),
        attempt(put(fm, p("a/b/f3"), "three", overwrite = false)),
        attempt(fc.rename(p("a/b/f2"), p("a/b/f3"), Options.Rename.OVERWRITE)),
        attempt(put(fm, p("a/b/f4"), "four", overwrite = false)),
        attempt(fc.rename(p("a/b/f4"), p("a/b/f3"))),
        attempt(fc.mkdir(p("a/c/d"), FsPermission.getDirDefault, true)),
        attempt(fc.setPermission(p("a/c"), new FsPermission("1750"))),
        attempt(fc.setPermission(p("a/b/f3"), new FsPermission("600"))),
        attempt(Files.createSymbolicLink(dir.resolve("a/link"), dir.resolve("a/b"))),
        // Hadoop hands `readlink` the file: URI, so even a real link reads
        // as no link; the fork-free probe must keep that answer
        s"link ${fc.getFileLinkStatus(p("a/link")).isSymlink}",
        s"link ${fc.getFileLinkStatus(p("a/b/f3")).isSymlink}",
        attempt(fc.getFileLinkStatus(p("a/b/missing"))))
      val tree = Files.walk(dir).iterator.asScala.filter(_ != dir).map { f =>
        val rel = dir.relativize(f).toString
        val kind =
          if (Files.isSymbolicLink(f)) s"link -> ${dir.relativize(Files.readSymbolicLink(f))}"
          else if (Files.isDirectory(f)) "dir"
          else new String(Files.readAllBytes(f), "ISO-8859-1")
        val mode = Files.getAttribute(f, "unix:mode")
        // a failed atomic write may leave its randomly named temp file
        rel.replaceAll("[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}", "<uuid>") ->
          s"$kind ${Files.getPosixFilePermissions(f)} $mode"
      }.toMap
      (outcomes, tree)
    }

  test("same files, bytes, permissions and errors as the stock LocalFs") {
    val (stockOut, stockTree) = exercise(Stock)
    val (out, tree) = exercise(ForkFree)
    val exists = classOf[FileAlreadyExistsException].getSimpleName
    assert(stockOut == Seq("ok", "ok", exists, "ok", "ok", "ok", "ok", exists,
      "ok", "ok", "ok", "ok", "link false", "link false",
      "FileNotFoundException"))
    assert(out == stockOut)
    assert(stockTree.keySet.exists(_.endsWith(".crc")), stockTree.keySet)
    assert(tree == stockTree)
  }
}
