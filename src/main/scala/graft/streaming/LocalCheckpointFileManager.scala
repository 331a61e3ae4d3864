package graft.streaming

import java.io.{BufferedOutputStream, FileNotFoundException}
import java.nio.ByteBuffer
import java.nio.channels.FileChannel
import java.nio.file.{Files, LinkOption, NoSuchFileException, StandardCopyOption,
  StandardOpenOption, Path => NioPath, FileAlreadyExistsException => NioFileExists}
import java.nio.file.attribute.BasicFileAttributes
import java.util.UUID

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{BufferedFSInputStream, FSDataInputStream, FSInputStream,
  FileAlreadyExistsException, FileStatus, FileSystem, Path, PathFilter}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream
import org.apache.spark.sql.internal.SQLConf

/** Streaming checkpoint files for `file:` paths through java.nio; every
  * other scheme goes to the manager Spark picks when
  * `spark.sql.streaming.checkpointFileManagerClass` is unset, so HDFS and
  * object stores keep their stock behavior.
  *
  * Why: Spark's jars ship no native-hadoop library, so Hadoop's local
  * filesystem starts a `chmod` process for every file create and mkdir and
  * a `readlink` process for every FileContext rename. A micro-batch writes
  * an offset file, a commit file and one state-store file per partition,
  * and those process launches, not the bytes, were most of a trigger's
  * fixed cost. The same operations through `Files.*` start no process.
  *
  * Semantics match the stock local path: `createAtomic` writes a hidden
  * sibling temp file and, on `close()`, renames it over the target
  * (`overwriteIfPossible = true`) or hard-links it into place, so an
  * existing target raises Hadoop's `FileAlreadyExistsException` and keeps
  * its bytes (the offset log relies on this to detect a second writer).
  * Nothing is fsynced, as on the stock local path; no Hadoop `.crc`
  * sidecar is written.
  */
class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {
  import LocalCheckpointFileManager._

  private val impl: CheckpointFileManager =
    if (isFileScheme(path, hadoopConf)) new NioFiles(path) else stock(path, hadoopConf)

  override def createAtomic(p: Path, overwriteIfPossible: Boolean)
      : CancellableFSDataOutputStream = impl.createAtomic(p, overwriteIfPossible)
  override def open(p: Path): FSDataInputStream = impl.open(p)
  override def list(p: Path, filter: PathFilter): Array[FileStatus] = impl.list(p, filter)
  override def mkdirs(p: Path): Unit = impl.mkdirs(p)
  override def exists(p: Path): Boolean = impl.exists(p)
  override def delete(p: Path): Unit = impl.delete(p)
  override def isLocal: Boolean = impl.isLocal
  override def createCheckpointDirectory(): Path = impl.createCheckpointDirectory()
  override def close(): Unit = impl.close()
}

object LocalCheckpointFileManager {
  /** The session key that installs a checkpoint file manager class. */
  val ConfKey: String = SQLConf.STREAMING_CHECKPOINT_FILE_MANAGER_CLASS.parent.key

  private def isFileScheme(p: Path, conf: Configuration): Boolean =
    Option(p.toUri.getScheme).getOrElse(FileSystem.getDefaultUri(conf).getScheme) == "file"

  /** Spark's own choice for `p`: the same call with the key removed, so it
    * cannot resolve back to this class. */
  private def stock(p: Path, conf: Configuration): CheckpointFileManager = {
    val plain = new Configuration(conf)
    plain.unset(ConfKey)
    CheckpointFileManager.create(p, plain)
  }

  private def local(p: Path): NioPath =
    new java.io.File(p.toUri.getPath).getAbsoluteFile.toPath

  private def qualified(p: Path): Path = new Path("file", null, local(p).toString)

  private def notFound[T](p: NioPath)(body: => T): T =
    try body catch {
      case _: NoSuchFileException => throw new FileNotFoundException(s"$p does not exist")
    }

  private final class NioFiles(root: Path) extends CheckpointFileManager {
    override def createAtomic(p: Path, overwriteIfPossible: Boolean)
        : CancellableFSDataOutputStream = {
      val target = local(p)
      Files.createDirectories(target.getParent)
      val temp = target.resolveSibling(s".${target.getFileName}.${UUID.randomUUID}.tmp")
      new AtomicOutput(temp, target, overwriteIfPossible)
    }

    override def open(p: Path): FSDataInputStream = {
      val file = local(p)
      val channel = notFound(file)(FileChannel.open(file, StandardOpenOption.READ))
      new FSDataInputStream(new BufferedFSInputStream(new ChannelInput(channel), 8192))
    }

    override def list(p: Path, filter: PathFilter): Array[FileStatus] = {
      val dir = local(p)
      val parent = qualified(p)
      val entries = notFound(dir)(Files.list(dir))
      try entries.iterator.asScala.flatMap { e =>
        val child = new Path(parent, e.getFileName.toString)
        if (!filter.accept(child)) None
        else try {
          val a = Files.readAttributes(e, classOf[BasicFileAttributes])
          Some(new FileStatus(a.size, a.isDirectory, 1, 0L, a.lastModifiedTime.toMillis, child))
        } catch { case _: NoSuchFileException => None } // removed since the listing
      }.toArray finally entries.close()
    }

    override def mkdirs(p: Path): Unit = Files.createDirectories(local(p))

    override def exists(p: Path): Boolean = Files.exists(local(p))

    override def delete(p: Path): Unit = deleteTree(local(p))

    override def isLocal: Boolean = true

    override def createCheckpointDirectory(): Path = {
      Files.createDirectories(local(root))
      qualified(root)
    }
  }

  private def deleteTree(p: NioPath): Unit = {
    if (Files.isDirectory(p, LinkOption.NOFOLLOW_LINKS)) {
      val children =
        try Files.list(p) catch { case _: NoSuchFileException => return }
      try children.forEach(c => deleteTree(c)) finally children.close()
    }
    Files.deleteIfExists(p)
  }

  private final class AtomicOutput(temp: NioPath, target: NioPath, overwrite: Boolean)
      extends CancellableFSDataOutputStream(new BufferedOutputStream(
        Files.newOutputStream(temp, StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE))) {
    private var terminated = false

    override def close(): Unit = synchronized {
      if (!terminated) {
        terminated = true
        try {
          super.close()
          if (overwrite) Files.move(temp, target, StandardCopyOption.ATOMIC_MOVE)
          else {
            try Files.createLink(target, temp) catch {
              case _: NioFileExists => throw new FileAlreadyExistsException(s"$target exists")
            }
          }
        } finally Files.deleteIfExists(temp)
      }
    }

    override def cancel(): Unit = synchronized {
      if (!terminated) {
        terminated = true
        try underlyingStream.close() finally Files.deleteIfExists(temp)
      }
    }
  }

  private final class ChannelInput(channel: FileChannel) extends FSInputStream {
    override def seek(pos: Long): Unit = channel.position(pos)
    override def getPos: Long = channel.position()
    override def seekToNewSource(targetPos: Long): Boolean = false
    override def read(): Int = {
      val one = new Array[Byte](1)
      if (read(one, 0, 1) <= 0) -1 else one(0) & 0xff
    }
    override def read(b: Array[Byte], off: Int, len: Int): Int =
      if (len == 0) 0 else channel.read(ByteBuffer.wrap(b, off, len))
    override def close(): Unit = channel.close()
  }
}
