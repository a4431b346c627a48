package graft.sources

import java.net.URI
import java.nio.file.attribute.PosixFilePermission
import java.nio.file.attribute.PosixFilePermission._
import java.nio.file.attribute.BasicFileAttributes
import java.nio.file.{Files, LinkOption, NoSuchFileException}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.fs.{DelegateToFileSystem, FSLinkResolver, FileStatus, Path, RawLocalFileSystem}

/** Fork-free permission handling for Hadoop's local filesystem.
  *
  * Without the hadoop native library (absent from plain Spark
  * distributions), `RawLocalFileSystem.setPermission` shells out to
  * `chmod` — once per created file and per mkdir-with-permission. A
  * bench/verify run writes tens of thousands of parquet parts and
  * streaming-checkpoint files, so the JVM forks `chmod` thousands of
  * times; on a memory-constrained or fork-limited host `posix_spawn`
  * can refuse mid-run ("Failed to exec spawn helper"), killing an
  * otherwise healthy query. These subclasses apply the same permission
  * bits through java.nio — zero subprocesses, identical semantics on a
  * POSIX filesystem.
  *
  * Wired in via standard Hadoop config (see [[NoForkFs.sparkConf]]):
  * `fs.file.impl` covers every FileSystem-API user (parquet writes,
  * committers, file sources) and `fs.AbstractFileSystem.file.impl`
  * covers FileContext users (Structured Streaming's checkpoint
  * manager and metadata logs).
  */
object NoForkFs {
  /** Spark-prefixed Hadoop conf entries enabling the fork-free local
    * filesystem for a SparkSession. NullGroupsMapping additionally
    * drops the `id`/`groups` subprocess Hadoop's default shell-based
    * group mapping forks on first UGI group lookup — group ACLs are
    * meaningless on a single-user local filesystem.
    *
    * `fs.file.impl` is the RAW variant: it skips Hadoop's client-side
    * checksum layer (LocalFileSystem = ChecksumFileSystem), under
    * which every staged/committed file pays a second `.crc` sidecar
    * create on write and a CRC verify pass on read-back. Production
    * filesystems do integrity server-side (HDFS) or per-object (S3
    * etags), and parquet carries its own page-level integrity — the
    * sidecars are pure local-mode overhead that scales with file
    * COUNT. Interleaved A/B on the file-heavy lifecycle basket
    * {curation_incremental, sql_catalog_merge,
    * pipeline_cdf_incremental, stream_file_ingest}: checksummed
    * {30.0, 27.2, 28.2} s vs raw {28.3, 26.4, 25.8} s — raw faster in
    * all three pairs. */
  val sparkConf: Seq[(String, String)] = Seq(
    "spark.hadoop.fs.file.impl" -> classOf[NoForkRawLocalFileSystem].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" ->
      classOf[NoForkLocalFs].getName,
    "spark.hadoop.hadoop.security.group.mapping" ->
      "org.apache.hadoop.security.NullGroupsMapping",
  )

  /** FsPermission bits (rwxrwxrwx) → java.nio permission set. */
  private[sources] def posixPerms(bits: Short): java.util.Set[PosixFilePermission] = {
    val out = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    val map: Seq[(Int, PosixFilePermission)] = Seq(
      0x100 -> OWNER_READ, 0x80 -> OWNER_WRITE, 0x40 -> OWNER_EXECUTE,
      0x20 -> GROUP_READ, 0x10 -> GROUP_WRITE, 0x8 -> GROUP_EXECUTE,
      0x4 -> OTHERS_READ, 0x2 -> OTHERS_WRITE, 0x1 -> OTHERS_EXECUTE)
    map.foreach { case (m, p) => if ((bits & m) != 0) out.add(p) }
    out
  }
}

/** `RawLocalFileSystem` with process-free chmod/chown/stat. */
class NoForkRawLocalFileSystem extends RawLocalFileSystem {
  /** Fork-free getFileStatus. Hadoop's local status loads permission/
    * owner/group LAZILY by forking `ls -ld` per file the first time
    * any of them is read (Shell.getGetPermissionCommand) — streaming
    * checkpoint managers, committers and metadata logs do read them,
    * and a bench run was measured forking ~450 subprocesses per
    * lifecycle query, each blocking the driver or stream thread for
    * milliseconds. One java.nio readAttributes call supplies the same
    * stat(2) fields (size/kind/times) plus permission bits and
    * owner/group with zero subprocesses — the cost scales with file
    * COUNT, so the win grows with the table, and it removes the
    * "Failed to exec spawn helper" failure mode for good. Path
    * qualification matches the base class byte for byte
    * (new Path(file.getPath).makeQualified(uri, cwd)). */
  override def getFileStatus(f: Path): org.apache.hadoop.fs.FileStatus = {
    val localf = pathToFile(f)
    try {
      val attrs = Files.readAttributes(localf.toPath,
        classOf[java.nio.file.attribute.PosixFileAttributes])
      var bits = 0
      val ps = attrs.permissions()
      val map: Seq[(PosixFilePermission, Int)] = Seq(
        OWNER_READ -> 0x100, OWNER_WRITE -> 0x80, OWNER_EXECUTE -> 0x40,
        GROUP_READ -> 0x20, GROUP_WRITE -> 0x10, GROUP_EXECUTE -> 0x8,
        OTHERS_READ -> 0x4, OTHERS_WRITE -> 0x2, OTHERS_EXECUTE -> 0x1)
      map.foreach { case (p, m) => if (ps.contains(p)) bits |= m }
      new org.apache.hadoop.fs.FileStatus(attrs.size(), attrs.isDirectory,
        1, getDefaultBlockSize(f), attrs.lastModifiedTime.toMillis,
        attrs.lastAccessTime.toMillis, new FsPermission(bits.toShort),
        attrs.owner.getName, attrs.group.getName,
        new Path(localf.getPath).makeQualified(getUri, getWorkingDirectory))
    } catch {
      case _: UnsupportedOperationException | _: java.io.IOException =>
        // non-POSIX store or exotic principal lookup failure: fall back
        // to Hadoop's own (lazy, possibly forking) status
        if (localf.exists()) super.getFileStatus(f)
        // missing, vanished concurrently, or under a regular file
        // (ENOTDIR): the FileSystem contract's not-found, which
        // `exists` turns into false
        else throw new java.io.FileNotFoundException(s"File $f does not exist")
    }
  }

  /** Fork-free getFileLinkStatus. Hadoop's local version reads the
    * link target with `FileUtil.readLink`, which forks `readlink` —
    * on every `FileContext.rename`, i.e. every streaming checkpoint
    * commit. java.nio answers both of its questions without a
    * subprocess: a NOFOLLOW_LINKS stat says whether `f` is a symlink
    * and `readSymbolicLink` gives the target. The result is the base
    * class's field for field: a file or directory is its
    * [[getFileStatus]]; a symlink carries its target's status (zeroed
    * when dangling) with the path as given and the qualified target.
    * One difference: the base class runs `readlink` on the path
    * STRING, so it misses a symlink behind a `file:` URI; this one
    * does not. */
  override def getFileLinkStatus(f: Path): FileStatus = {
    val local = pathToFile(f).toPath
    val isLink =
      try Files.readAttributes(local, classOf[BasicFileAttributes],
        LinkOption.NOFOLLOW_LINKS).isSymbolicLink
      catch {
        case _: java.io.IOException =>
          throw new java.io.FileNotFoundException(s"File $f does not exist")
      }
    if (!isLink) getFileStatus(f)
    else {
      val target = new Path(Files.readSymbolicLink(local).toString)
      val st =
        try {
          val s = getFileStatus(f)
          new FileStatus(s.getLen, false, s.getReplication, s.getBlockSize,
            s.getModificationTime, s.getAccessTime, s.getPermission,
            s.getOwner, s.getGroup, target, f)
        } catch {
          case _: java.io.FileNotFoundException =>
            new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault,
              "", "", target, f)
        }
      st.setSymlink(FSLinkResolver.qualifySymlinkTarget(getUri, f, target))
      st
    }
  }

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val f = pathToFile(p).toPath
    try Files.setPosixFilePermissions(f,
      NoForkFs.posixPerms(permission.toShort))
    catch {
      // non-POSIX store (unlikely here) or a racing delete: permission
      // bits on a local scratch filesystem are advisory — never worth
      // failing the write that already succeeded
      case _: UnsupportedOperationException => ()
      case _: NoSuchFileException => ()
    }
  }

  // chown is exec-based too and cannot succeed for an unprivileged
  // single user anyway — a local test/bench filesystem has one owner
  override def setOwner(p: Path, username: String, groupname: String): Unit = ()
}

/** Drop-in `fs.AbstractFileSystem.file.impl` for FileContext users
  * (streaming checkpoint managers). Skips the checksum layer like
  * Hadoop's own `RawLocalFs` — FileContext local usage in Spark is
  * checkpoint/metadata files whose integrity the formats themselves
  * version and CRC. */
class NoForkLocalFs(uri: URI, conf: Configuration)
  extends DelegateToFileSystem(
    uri, new NoForkRawLocalFileSystem, conf, "file", false)
