package org.apache.spark.sql.graft

import java.io.{BufferedOutputStream, IOException}
import java.nio.file.{Files, StandardCopyOption, StandardOpenOption, Path => NioPath, Paths}
import java.util.UUID

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, Path}

import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream
import org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager

/** The engine's checkpoint file manager: Spark's own, except that
  * checkpoint files and directories on `file:` paths are created with
  * java.nio.
  *
  * Spark's manager writes local files through Hadoop's
  * `ChecksumFs`/`RawLocalFileSystem`, which without native libhadoop
  * starts a child process for every `chmod` (file create, `mkdirs`) and
  * `readlink` (rename): five per checkpoint file. Every micro-batch of
  * every hop writes an offset-log and a commit-log entry, a file-sink
  * manifest and one state-store delta per state partition, so those
  * forks are most of a small batch's fixed cost.
  *
  * `createAtomic` writes a `.<name>.<uuid>.tmp` sibling and publishes it
  * on `close`: with `overwriteIfPossible` by `rename(2)`, which
  * replaces; without it by a hard link, which fails atomically with
  * `FileAlreadyExistsException` if another writer published first. A
  * stale `.<name>.crc` that Spark's manager left is deleted when the
  * new bytes are published (before the rename, after the link), so
  * `ChecksumFs` reads do not check them against the old checksum.
  * Files written here carry no `.crc`, which `ChecksumFs` reads without
  * verifying, so a checkpoint can move between this manager and Spark's
  * in either direction.
  *
  * `mkdirs` and `createCheckpointDirectory` use `Files.createDirectories`
  * (Hadoop's sets each new directory's mode with a `chmod` process; the
  * umask gives the same mode). Reads, listings and deletes are Spark's.
  * A path on any other scheme (HDFS, S3, ...) goes to Spark's manager
  * unchanged.
  */
class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends FileContextBasedCheckpointFileManager(path, hadoopConf) {
  import LocalCheckpointFileManager._

  /** The local file `p` names, or None when `p` is not on `file:`. */
  def localFile(p: Path): Option[NioPath] = {
    val uri = fc.makeQualified(p).toUri
    if (uri.getScheme == "file") Some(Paths.get(uri)) else None
  }

  override def createAtomic(p: Path, overwriteIfPossible: Boolean)
      : CancellableFSDataOutputStream =
    localFile(p).fold(super.createAtomic(p, overwriteIfPossible)) { dst =>
      val tmp = dst.resolveSibling(s".${dst.getFileName}.${UUID.randomUUID}.tmp")
      new AtomicStream(dst, tmp, overwriteIfPossible)
    }

  override def mkdirs(p: Path): Unit =
    localFile(p).fold(super.mkdirs(p))(d => Files.createDirectories(d))

  override def createCheckpointDirectory(): Path =
    localFile(path).fold(super.createCheckpointDirectory()) { d =>
      Files.createDirectories(d)
      fc.makeQualified(path)
    }
}

object LocalCheckpointFileManager {

  private final class AtomicStream(dst: NioPath, tmp: NioPath, overwrite: Boolean)
      extends CancellableFSDataOutputStream(new BufferedOutputStream(
        Files.newOutputStream(tmp, StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE))) {
    private var terminated = false

    override def close(): Unit = synchronized {
      if (!terminated) {
        terminated = true
        try {
          underlyingStream.close()
          val crc = dst.resolveSibling(s".${dst.getFileName}.crc")
          if (overwrite) {
            Files.deleteIfExists(crc)
            Files.move(tmp, dst, StandardCopyOption.ATOMIC_MOVE)
          } else {
            // a losing writer leaves the winner's file and .crc alone
            try Files.createLink(dst, tmp)
            catch {
              case _: java.nio.file.FileAlreadyExistsException =>
                throw new FileAlreadyExistsException(s"$dst already exists")
            }
            Files.deleteIfExists(crc)
          }
        } finally Files.deleteIfExists(tmp)
      }
    }

    override def cancel(): Unit = synchronized {
      if (!terminated) {
        terminated = true
        try underlyingStream.close()
        catch { case _: IOException => }
        finally Files.deleteIfExists(tmp)
      }
    }
  }
}
