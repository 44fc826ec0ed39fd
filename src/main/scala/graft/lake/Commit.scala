package graft.lake

import java.nio.file.{FileAlreadyExistsException, Files, Paths}
import java.util.UUID

import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}

import scala.util.matching.Regex

/** The commit point of every versioned store (lake snapshots, IVM and
  * keyed-sink manifests, writer-lease epochs): version N+1 is written
  * to a `.tmp-<uuid>` file beside the target through the store's own
  * `FileSystem`, then published in ONE exclusive step, so exactly one
  * of any number of racing writers wins and readers only ever see
  * complete files. On `file:` the step is a hard link (`link(2)` fails
  * atomically when the target exists; Hadoop's local
  * `create(overwrite=false)` and `!exists && rename` both let several
  * racers win), elsewhere a `rename`, which HDFS refuses onto an
  * existing file. The tmp file is written through [[writer]]. */
object Commit {

  /** Publish `bytes` at `target` unless it exists; true iff this caller won. */
  def publish(fs: FileSystem, target: Path, bytes: Array[Byte]): Boolean = {
    val tmp = new Path(target.getParent, s".tmp-${UUID.randomUUID()}")
    val out = writer(fs).create(tmp, false)
    try out.write(bytes) finally out.close()
    try {
      if (fs.getScheme != "file") fs.rename(tmp, target)
      else {
        def local(p: Path) = Paths.get(fs.makeQualified(p).toUri)
        try { Files.createLink(local(target), local(tmp)); true }
        catch { case _: FileAlreadyExistsException => false }
      }
    } finally writer(fs).delete(tmp, false)
  }

  /** The file system a store's metadata files are written through: on
    * `file:` the raw local one, like [[TaskWriter]]'s data files. The
    * checksummed local file system would add a `.crc` sidecar that no
    * reader needs (a published file is a hard link to the data alone),
    * at the cost of one more create, and on a host without the native
    * Hadoop library one more forked `chmod`, per file. The bytes still
    * count in the `file` statistics. */
  def writer(fs: FileSystem): FileSystem = fs match {
    case local: LocalFileSystem => local.getRawFileSystem
    case other => other
  }

  /** Versions of the files in `dir` whose names fully match `re`
    * (one numeric group), ascending; empty when `dir` does not exist. */
  def versions(fs: FileSystem, dir: Path, re: Regex): Seq[Long] = {
    val names = try fs.listStatus(dir).toSeq.map(_.getPath.getName)
      catch { case _: java.io.FileNotFoundException => Nil }
    names.collect { case re(v) => v.toLong }.sorted
  }
}
