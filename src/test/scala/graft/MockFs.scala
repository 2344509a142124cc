package graft

import java.net.URI

import org.apache.hadoop.fs.{FileStatus, Path, RawLocalFileSystem}

/** A local-disk FileSystem registered under its own `mockfs:` scheme —
  * stands in for a remote store (HDFS/S3A/GCS) in specs, proving the lake
  * layer resolves storage through the Hadoop FileSystem API rather than
  * assuming the local default.
  *
  * Statuses are materialized as plain FileStatus (like a remote FS would
  * return) because RawLocalFileSystem's lazy permission loading assumes
  * `file:` URIs. */
class MockFs extends RawLocalFileSystem {
  override def getScheme: String = "mockfs"
  override def getUri: URI = URI.create("mockfs:///")

  private def plain(s: FileStatus): FileStatus =
    new FileStatus(s.getLen, s.isDirectory, s.getReplication, s.getBlockSize,
      s.getModificationTime, s.getPath)

  override def getFileStatus(f: Path): FileStatus = plain(super.getFileStatus(f))
  override def listStatus(f: Path): Array[FileStatus] = super.listStatus(f).map(plain)
}

/** [[MockFs]] under a `recfs:` scheme that records every path it opens,
  * lists or stats — for pins on which metadata files a code path reads. */
class RecordingFs extends MockFs {
  override def getScheme: String = "recfs"
  override def getUri: URI = URI.create("recfs:///")

  override def open(f: Path, bufferSize: Int): org.apache.hadoop.fs.FSDataInputStream = {
    RecordingFs.touched.add(f.toString); super.open(f, bufferSize)
  }
  override def getFileStatus(f: Path): FileStatus = {
    RecordingFs.touched.add(f.toString); super.getFileStatus(f)
  }
  override def listStatus(f: Path): Array[FileStatus] = {
    RecordingFs.touched.add(f.toString); super.listStatus(f)
  }
}

object RecordingFs {
  val touched = new java.util.concurrent.ConcurrentLinkedQueue[String]()
}
