package perfbench

import org.apache.hadoop.fs.{FileStatus, LocalFileSystem, LocatedFileStatus, Path, RemoteIterator}
import org.apache.spark.{SparkContext, TaskContext}

/** The local file system with its metadata calls (listings and status
  * lookups) recorded, so the tracer can attribute them to spans. Hadoop's
  * own `FileSystem.Statistics` count no metadata operations for the local
  * file system. Installed through `spark.hadoop.fs.file.impl` in traced runs
  * only; calls are recorded only while [[CountingLocalFileSystem.context]] is
  * set. */
class CountingLocalFileSystem extends LocalFileSystem {
  import CountingLocalFileSystem.tick

  override def listStatus(f: Path): Array[FileStatus] = { tick(); super.listStatus(f) }

  override def getFileStatus(f: Path): FileStatus = { tick(); super.getFileStatus(f) }

  override def listLocatedStatus(f: Path): RemoteIterator[LocatedFileStatus] = {
    tick(); super.listLocatedStatus(f)
  }
}

object CountingLocalFileSystem {
  /** One counted call: its epoch-ms time and the span tag of the calling
    * task or driver thread (null when it has none). */
  final case class Call(ms: Long, tag: String)

  /** The traced session's context while recording, else null. */
  @volatile var context: SparkContext = _
  private val calls = new java.util.concurrent.ConcurrentLinkedQueue[Call]()

  private def tick(): Unit = {
    val sc = context
    if (sc != null) {
      val task = TaskContext.get()
      val tag = if (task != null) task.getLocalProperty(Tracer.SpanKey)
        else sc.getLocalProperty(Tracer.SpanKey)
      calls.add(Call(System.currentTimeMillis(), tag))
    }
  }

  def snapshot(): Seq[Call] = calls.toArray(Array.empty[Call]).toSeq
}
