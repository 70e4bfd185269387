package graft.pipeline

import java.net.URI

import org.apache.hadoop.fs.{Path, RawLocalFileSystem}

/** Test-only FileSystem that records every rename it is asked to
  * perform — the instrument behind ManifestSpec's rename-less proof:
  * run the whole manifest lifecycle on `audit://` paths, then assert
  * the ONLY renames are the output committer's `_temporary`
  * internals. */
class RenameAuditFileSystem extends RawLocalFileSystem {
  override def getScheme: String = "audit"
  override def getUri: URI = URI.create("audit:///")
  override def rename(src: Path, dst: Path): Boolean = {
    val isDir =
      try getFileStatus(src).isDirectory
      catch { case _: java.io.IOException => false }
    RenameAuditFileSystem.renames.add(
      (src.toUri.getPath, dst.toUri.getPath, isDir))
    super.rename(src, dst)
  }
}

object RenameAuditFileSystem {
  /** (src path, dst path, src was a directory) for every rename since
    * the last [[reset]]. */
  val renames = new java.util.concurrent.ConcurrentLinkedQueue[
    (String, String, Boolean)]()
  def reset(): Unit = renames.clear()
  def all(): Seq[(String, String, Boolean)] = {
    import scala.jdk.CollectionConverters._
    renames.asScala.toSeq
  }
}

/** Test-only FileSystem that REJECTS file rename outright — the
  * strictest object-store model (S3A's "rename" is a COPY+DELETE
  * emulation; a store-native deployment has no rename primitive at
  * all). The [[Manifest]] lifecycle must run green on it: every
  * commit is a conditional CREATE, never a move. The output
  * committer's own `_temporary` promotion renames are exempted — a
  * real object-store deployment swaps the committer for a
  * direct-write one (S3A magic committer), and the LAYOUT's protocol
  * is what's under proof here (the same argument ManifestSpec's
  * rename audit makes). */
class NoRenameFileSystem extends RawLocalFileSystem {
  override def getScheme: String = "norename"
  override def getUri: URI = URI.create("norename:///")
  override def rename(src: Path, dst: Path): Boolean = {
    if (!src.toUri.getPath.contains("/_temporary/") &&
      !dst.toUri.getPath.contains("/_temporary/"))
      throw new UnsupportedOperationException(
        s"this store has no rename: $src -> $dst")
    super.rename(src, dst)
  }
}
