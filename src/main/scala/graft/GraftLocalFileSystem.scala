package graft

import java.net.URI
import java.nio.file.Files
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{
  DelegateToFileSystem, FileStatus, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** `file://` filesystem for LOCAL runs that skips per-file permission
  * syscalls — without the native hadoop library (`libhadoop.so`, absent
  * in this environment), `RawLocalFileSystem.setPermission` falls back to
  * FORKING a `chmod` process (`Shell.execCommand`) for EVERY created file
  * and directory (`LocalFSFileOutputStream.<init>`,
  * `mkOneDirWithMode`) — measured at 50-150 ms per fork under load.
  * A 32-task micro-batch parquet write paid ~3 forks/task (attempt dir
  * mkdir + part file + checksum file ≈ 10+ s of cumulative task time to
  * land <1 MB), which dominated every artifact-writing query in the
  * bench: profiled stacks showed `ProcessImpl.forkAndExec` as the single
  * hottest executor frame.
  *
  * POSIX permission bits on a single-user local scratch FS carry no
  * information — the JVM's umask already applies to every created file —
  * so `setPermission` is a no-op here (the behavior native `chmod` would
  * make cheap, minus the syscall). Skipping `ChecksumFileSystem` (this
  * extends RAW local) also halves file creates: local disks do their own
  * integrity checking; `.crc` siblings are an artifact of pre-checksummed
  * remote filesystems.
  *
  * The second fork: `getFileLinkStatus`. Without libhadoop, Hadoop
  * (3.4.2) answers it on its deprecated path, which asks
  * `FileUtil.readLink` for the link target — a FORKED `readlink` process
  * (`Shell.execCommand`) for every path, link or not. One
  * `FileContext.rename` looks up four link statuses (source and
  * destination in `AbstractFileSystem.renameInternal`, again in the
  * `FileSystem.rename` it delegates to), and Spark's checkpoint manager
  * commits every offset-log, commit-log, source-log, sink-log,
  * state-store delta and checksum file by rename: a JFR recording of
  * the perfbench `ingest_land` workload counted 3752 `readlink` forks
  * from 938 renames in 55 s, about 35 per micro-batch.
  *
  * Symlink policy: a path that `java.nio.file.Files.isSymbolicLink`
  * says is not a link gets `getFileStatus(f)` — exactly what the
  * deprecated path returns for a non-link, `FileNotFoundException` for a
  * missing path included. A real symlink (dangling or not) keeps
  * Hadoop's own code path, fork and all, so its answer stays Hadoop's.
  * (That path runs `readlink` on `Path.toString`, so for a `file:` path,
  * the form Spark passes, the fork fails and Hadoop too returns
  * `getFileStatus`.) Measured per micro-batch on `ingest_land` (4 cores,
  * traced, medians of 6 runs a side): `stream.wal_commit_ms` 15.2 → 1.4,
  * `stream.commit_offsets_ms` 15.2 → 1.6, `stream.latest_offset_ms`
  * 14.9 → 2.0, `stream.add_batch_ms` 290 → 237.
  *
  * Scale posture: this class only ever serves `file://` paths. At
  * production scale the data lives on HDFS/S3 where this code path does
  * not exist (permissions are metadata operations there, and parquet
  * commit goes through the store's committer); local-mode benches and
  * tests are exactly where the fork fallback bites. Wired via
  * `spark.hadoop.fs.file.impl` in the local entry points (Bench/Verify/
  * Run/QBench/...) — deployment configs override it like any other
  * Hadoop conf.
  */
class GraftLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = ()
  // RawLocalFileSystem inherits FileSystem's throwing default (only the
  // Checksum wrapper declares the scheme); callers probe it for lease
  // naming, so declare what this class serves.
  override def getScheme: String = "file"

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** The `AbstractFileSystem` (FileContext) face of
  * [[GraftLocalFileSystem]] — structured streaming's checkpoint manager
  * prefers FileContext, whose default `file` binding wraps a plain
  * `RawLocalFileSystem` and pays the same fork-per-create, plus the four
  * `readlink` forks of every `FileContext.rename` (its
  * `getFileLinkStatus` delegates here). Wired via
  * `spark.hadoop.fs.AbstractFileSystem.file.impl`. */
class GraftLocalFs(uri: URI, conf: Configuration)
  extends DelegateToFileSystem(
    uri, new GraftLocalFileSystem(), conf, "file", false)
