package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => NioPath}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, Path, PathFilter, RawLocalFileSystem}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.LocalCheckpointFileManager

/** The contract Structured Streaming's offset log, commit log and state
  * store rely on, checked on the java.nio path against a temp dir; and the
  * hand-off of every other scheme to Spark's stock manager.
  */
class LocalCheckpointFileManagerSpec extends AnyFunSuite {

  private def withManager(body: (CheckpointFileManager, NioPath) => Unit): Unit = {
    val dir = Files.createTempDirectory("lcfm")
    try {
      val conf = new Configuration()
      conf.set(LocalCheckpointFileManager.ConfKey, classOf[LocalCheckpointFileManager].getName)
      val fm = CheckpointFileManager.create(new Path(dir.toString), conf)
      assert(fm.isInstanceOf[LocalCheckpointFileManager])
      body(fm, dir)
    } finally new LocalCheckpointFileManager(new Path(dir.toString), new Configuration())
      .delete(new Path(dir.toString))
  }

  private def write(fm: CheckpointFileManager, p: Path, text: String,
                    overwrite: Boolean = true): Unit = {
    val out = fm.createAtomic(p, overwrite)
    out.write(text.getBytes(UTF_8))
    out.close()
  }

  private def read(fm: CheckpointFileManager, p: Path): String = {
    val in = fm.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  private def names(fm: CheckpointFileManager, dir: Path): Set[String] =
    fm.list(dir).map(_.getPath.getName).toSet

  test("a createAtomic target is invisible to exists and list until close()") {
    withManager { (fm, dir) =>
      val root = new Path(dir.toString)
      val target = new Path(root, "0")
      val out = fm.createAtomic(target, false)
      out.write("v1\n{}".getBytes(UTF_8))
      assert(!fm.exists(target))
      assert(!names(fm, root).contains("0"))
      out.close()
      assert(fm.exists(target))
      assert(names(fm, root) == Set("0"), "the temp file is gone after close")
      assert(read(fm, target) == "v1\n{}")
    }
  }

  test("cancel() leaves neither the target nor a temp file") {
    withManager { (fm, dir) =>
      val root = new Path(dir.toString)
      val out = fm.createAtomic(new Path(root, "1"), true)
      out.write(Array[Byte](1, 2, 3))
      out.cancel()
      out.close() // closing after cancel must not publish the file
      assert(names(fm, root).isEmpty)
      assert(Files.list(dir).count() == 0)
    }
  }

  test("overwriteIfPossible = false on an existing target throws and keeps the old bytes") {
    withManager { (fm, dir) =>
      val target = new Path(new Path(dir.toString), "5")
      write(fm, target, "first", overwrite = false)
      val second = fm.createAtomic(target, false)
      second.write("second".getBytes(UTF_8))
      intercept[FileAlreadyExistsException](second.close())
      assert(read(fm, target) == "first")
      assert(names(fm, new Path(dir.toString)) == Set("5"))
    }
  }

  test("overwriteIfPossible = true replaces the target") {
    withManager { (fm, dir) =>
      val target = new Path(new Path(dir.toString), "state/0/1.changelog")
      write(fm, target, "old")
      write(fm, target, "new")
      assert(read(fm, target) == "new")
      assert(names(fm, target.getParent) == Set("1.changelog"))
    }
  }

  test("list applies its filter and throws FileNotFoundException for a missing dir") {
    withManager { (fm, dir) =>
      val root = new Path(dir.toString)
      Seq("0", "1", "2.compact", ".hidden").foreach(n => write(fm, new Path(root, n), n))
      fm.mkdirs(new Path(root, "sub"))
      val numeric = new PathFilter {
        def accept(p: Path): Boolean = p.getName.forall(_.isDigit)
      }
      assert(fm.list(root, numeric).map(_.getPath.getName).toSet == Set("0", "1"))
      val all = fm.list(root)
      assert(all.map(_.getPath.getName).toSet == Set("0", "1", "2.compact", ".hidden", "sub"))
      assert(all.filter(_.isDirectory).map(_.getPath.getName).toSeq == Seq("sub"))
      assert(all.find(_.getPath.getName == "0").get.getLen == 1)
      assert(all.forall(_.getPath.toUri.getScheme == "file"))
      intercept[FileNotFoundException](fm.list(new Path(root, "missing")))
      intercept[FileNotFoundException](fm.open(new Path(root, "missing")))
    }
  }

  test("delete is recursive and a no-op on a missing path") {
    withManager { (fm, dir) =>
      val root = new Path(dir.toString)
      write(fm, new Path(root, "a/b/c/1.zip"), "x")
      write(fm, new Path(root, "a/2.zip"), "y")
      fm.delete(new Path(root, "a"))
      assert(!fm.exists(new Path(root, "a")))
      fm.delete(new Path(root, "a"))
      fm.delete(new Path(root, "never/was"))
      assert(names(fm, root).isEmpty)
    }
  }

  test("a non-file: scheme is served by Spark's stock manager, no recursion through the key") {
    val dir = Files.createTempDirectory("lcfm-scheme")
    try {
      val conf = new Configuration()
      conf.set(LocalCheckpointFileManager.ConfKey, classOf[LocalCheckpointFileManager].getName)
      conf.set("fs.graftlocal.impl", classOf[LocalCheckpointFileManagerSpec.SchemeFs].getName)
      conf.setBoolean("fs.graftlocal.impl.disable.cache", true)
      val root = new Path(s"graftlocal://${dir.toUri.getPath}")
      // built through the key: a resolve back to this class would recurse
      val fm = CheckpointFileManager.create(root, conf)
      assert(fm.isInstanceOf[LocalCheckpointFileManager])
      val before = LocalCheckpointFileManagerSpec.renames.get
      write(fm, new Path(root, "0"), "through hadoop", overwrite = false)
      assert(LocalCheckpointFileManagerSpec.renames.get == before + 1,
        "the write went through the scheme's Hadoop filesystem")
      assert(read(fm, new Path(root, "0")) == "through hadoop")
      assert(new String(Files.readAllBytes(dir.resolve("0")), UTF_8) == "through hadoop")
    } finally new LocalCheckpointFileManager(new Path(dir.toString), new Configuration())
      .delete(new Path(dir.toString))
  }
}

object LocalCheckpointFileManagerSpec {
  val renames = new AtomicInteger()

  /** A local filesystem under its own scheme, counting renames. It has no
    * FileContext binding, so Spark's stock choice for it is the
    * FileSystem-based manager. */
  class SchemeFs extends RawLocalFileSystem {
    override def getUri: URI = URI.create("graftlocal:///")
    override def rename(src: Path, dst: Path): Boolean = {
      renames.incrementAndGet()
      super.rename(src, dst)
    }
  }
}
