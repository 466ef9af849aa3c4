package graft.streaming

import java.io.{BufferedOutputStream, FileOutputStream}
import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, Path, PathFilter}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** A [[CheckpointFileManager]] that serves `file:` checkpoint paths
  * with plain java.nio I/O and delegates every other scheme to Spark's
  * default [[FileContextBasedCheckpointFileManager]].
  *
  * Why it exists (r19 VERDICT #2c, measured with `Bench fanout`): on
  * this engine every micro-batch pays three-plus checkpoint metadata
  * writes — the offset WAL before the batch, the commit log after,
  * and (for file-source queries) the seen-files log.
  * Through Hadoop's FileContext each write costs ~50 ms on a LOCAL
  * disk (AbstractFileSystem resolution + ChecksumFs double-writing
  * CRC sidecars), which made the 40 ms `walCommit`/`commitOffsets`
  * floor the dominant term of stream latency: a two-hop fan-out
  * delivery spent ~160 ms of its 300 ms p50 in metadata writes alone.
  * The same write through java.nio (temp file + fsync + atomic
  * rename) is ~1 ms, with STRICTLY stronger durability than stock —
  * the stock local path never fsyncs before its rename.
  *
  * Semantics preserved from the rename-based contract:
  *  - createAtomic(overwrite=false) throws FileAlreadyExistsException
  *    when the target exists (HDFSMetadataLog's concurrent-writer
  *    guard; same check-then-rename window as the stock local impl);
  *  - temp files are dot-prefixed `.N.<uuid>.tmp` siblings, invisible
  *    to the digit-named batch-file filters;
  *  - open/list/delete go through the RAW local FileSystem (no CRC
  *    sidecars), throwing FileNotFoundException where callers expect.
  *
  * It is also what lets a stopped query restart. Without Hadoop's
  * native library the stock local `create` runs `chmod` as a child
  * process after the temp file exists; a `stop()` that lands there
  * interrupts the wait, the write fails before Spark can cancel it,
  * and the temp file stays. On a checkpoint with no batch logged yet,
  * Spark 4.1 then refuses every later start
  * (`STATE_STORE_CHECKPOINT_LOCATION_NOT_EMPTY` on `offsets/`). Nothing
  * here waits on a process, so an interrupt cannot split a write.
  *
  * Wired as the session default ([[LocalCheckpointFileManager.useByDefault]])
  * by [[graft.Core]] and by the tcp/udp servers
  * ([[graft.sources.Sources]]), whose restart handoff depends on a
  * restartable checkpoint, when the user has not set
  * `spark.sql.streaming.checkpointFileManagerClass`; remote
  * checkpoint roots (hdfs:, s3a:, ...) see the stock manager via
  * delegation either way. */
final class LocalCheckpointFileManager(path: Path, conf: Configuration)
    extends CheckpointFileManager {

  private val local = {
    val s = path.toUri.getScheme
    s == null || s == "file"
  }
  // non-local schemes keep stock behavior wholesale
  private lazy val delegate =
    new FileContextBasedCheckpointFileManager(path, conf)
  // raw local fs (no ChecksumFileSystem wrapper): FileStatus/stream
  // interop without CRC sidecar reads and writes
  private lazy val rawFs =
    org.apache.hadoop.fs.FileSystem.getLocal(conf).getRaw

  private def nio(p: Path): java.nio.file.Path =
    Paths.get(p.toUri.getPath)

  override def createAtomic(p: Path,
      overwriteIfPossible: Boolean): CancellableFSDataOutputStream = {
    if (!local) return delegate.createAtomic(p, overwriteIfPossible)
    val target = nio(p)
    Files.createDirectories(target.getParent)
    val tmp = Files.createTempFile(target.getParent,
      s".${target.getFileName}.", ".tmp")
    val fos =
      try new FileOutputStream(tmp.toFile)
      catch { case e: java.io.IOException => Files.deleteIfExists(tmp); throw e }
    val buf = new BufferedOutputStream(fos, 64 * 1024)
    new CancellableFSDataOutputStream(buf) {
      private var terminated = false
      override def close(): Unit = synchronized {
        if (terminated) return
        terminated = true
        var moved = false
        try {
          buf.flush()
          fos.getFD.sync()
          buf.close()
          if (overwriteIfPossible) {
            Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE,
              StandardCopyOption.REPLACE_EXISTING)
          } else {
            // POSIX rename always replaces; surface the concurrent-
            // writer case the way HDFSMetadataLog expects
            if (Files.exists(target))
              throw new org.apache.hadoop.fs.FileAlreadyExistsException(
                s"failed to rename $tmp to $target: destination exists")
            Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE)
          }
          moved = true
        } finally {
          if (!moved) { Files.deleteIfExists(tmp); () }
        }
      }
      override def cancel(): Unit = synchronized {
        if (terminated) return
        terminated = true
        try buf.close()
        finally { Files.deleteIfExists(tmp); () }
      }
    }
  }

  override def open(p: Path): FSDataInputStream =
    if (local) rawFs.open(p) else delegate.open(p)

  override def list(p: Path, filter: PathFilter): Array[FileStatus] =
    if (local) rawFs.listStatus(p, filter) else delegate.list(p, filter)

  override def mkdirs(p: Path): Unit =
    if (local) { Files.createDirectories(nio(p)); () }
    else delegate.mkdirs(p)

  override def exists(p: Path): Boolean =
    if (local) Files.exists(nio(p)) else delegate.exists(p)

  override def delete(p: Path): Unit =
    if (local) {
      try { rawFs.delete(p, true); () }
      catch { case _: java.io.FileNotFoundException => () }
    } else delegate.delete(p)

  override def isLocal: Boolean = local

  override def createCheckpointDirectory(): Path =
    if (local) {
      Files.createDirectories(nio(path))
      rawFs.makeQualified(path)
    } else delegate.createCheckpointDirectory()
}

object LocalCheckpointFileManager {
  /** The Spark conf key naming a session's checkpoint file manager. */
  val ConfKey = "spark.sql.streaming.checkpointFileManagerClass"

  /** Make this manager `spark`'s default; a manager the user set wins. */
  def useByDefault(spark: org.apache.spark.sql.SparkSession): Unit =
    if (spark.conf.getOption(ConfKey).isEmpty)
      spark.conf.set(ConfKey, classOf[LocalCheckpointFileManager].getName)
}
