package graft.perfbench

import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FSDataOutputStream, FileStatus, GlobalStorageStatistics, LocatedFileStatus, LocalFileSystem, Path, PathFilter, RemoteIterator, StorageStatistics}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The local filesystem, counting metadata calls. Installed only for
  * traced runs, through a `core-site.xml` on the classpath that maps the
  * `file` scheme here. Each public call counts once: calls the filesystem
  * makes to itself while serving one (an `exists` inside a `create`, the
  * listings inside a glob) are not counted again. The counts are published
  * in Hadoop's `GlobalStorageStatistics` under [[FileOps.Name]]. */
class CountingLocalFileSystem extends LocalFileSystem {
  import FileOps.counted

  override def exists(f: Path): Boolean = counted("exists")(super.exists(f))
  override def listStatus(f: Path): Array[FileStatus] = counted("list")(super.listStatus(f))
  override def listLocatedStatus(f: Path): RemoteIterator[LocatedFileStatus] =
    counted("list")(super.listLocatedStatus(f))
  override def listStatusIterator(f: Path): RemoteIterator[FileStatus] =
    counted("list")(super.listStatusIterator(f))
  override def globStatus(p: Path): Array[FileStatus] = counted("glob")(super.globStatus(p))
  override def globStatus(p: Path, filter: PathFilter): Array[FileStatus] =
    counted("glob")(super.globStatus(p, filter))
  override def rename(src: Path, dst: Path): Boolean = counted("rename")(super.rename(src, dst))
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream =
    counted("create")(super.create(f, permission, overwrite, bufferSize,
      replication, blockSize, progress))
  override def delete(f: Path, recursive: Boolean): Boolean =
    counted("delete")(super.delete(f, recursive))
  override def mkdirs(f: Path): Boolean = counted("mkdirs")(super.mkdirs(f))
  override def mkdirs(f: Path, permission: FsPermission): Boolean =
    counted("mkdirs")(super.mkdirs(f, permission))
}

object FileOps {
  val Name = "perfbench.file.ops"
  val Ops: Seq[String] = Seq("exists", "list", "glob", "rename", "create", "delete", "mkdirs")
  private val counters: Map[String, AtomicLong] = Ops.map(_ -> new AtomicLong).toMap
  private val depth = ThreadLocal.withInitial[Int](() => 0)

  private[perfbench] def counted[A](op: String)(f: => A): A = {
    val d = depth.get
    if (d == 0) counters(op).incrementAndGet()
    depth.set(d + 1)
    try f finally depth.set(d)
  }

  private final class Stats extends StorageStatistics(Name) {
    import scala.jdk.CollectionConverters._
    override def getScheme: String = "file"
    override def getLongStatistics: java.util.Iterator[StorageStatistics.LongStatistic] =
      Ops.iterator.map(o => new StorageStatistics.LongStatistic(o, counters(o).get)).asJava
    override def getLong(key: String): java.lang.Long =
      counters.get(key).map(c => java.lang.Long.valueOf(c.get)).orNull
    override def isTracked(key: String): Boolean = counters.contains(key)
    override def reset(): Unit = counters.values.foreach(_.set(0))
  }

  GlobalStorageStatistics.INSTANCE.put(Name, () => new Stats)

  /** Current totals: the seven op counts, and the bytes the `file` scheme
    * has read and written, all from `GlobalStorageStatistics`. */
  def snapshot(): Map[String, Double] = {
    val g = GlobalStorageStatistics.INSTANCE
    def long(stats: String, key: String): Double =
      Option(g.get(stats)).flatMap(s => Option(s.getLong(key))).map(_.toDouble).getOrElse(0.0)
    Ops.map(o => o -> long(Name, o)).toMap ++ Map(
      "bytes_written" -> long("file", "bytesWritten"),
      "bytes_read" -> long("file", "bytesRead"))
  }
}
