package graft

import org.apache.hadoop.fs.{FileStatus, FSDataInputStream, Path, RawLocalFileSystem}

/** The local file system under the `graftcount` scheme, recording each
  * list, stat and open made on it. Only a caller's calls are recorded:
  * the ones the file system makes inside them (a listing stats each
  * child, an open stats its file) are not. */
class CountingFs extends RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create(s"${CountingFs.Scheme}:///")
  override def getScheme: String = CountingFs.Scheme
  override def listStatus(f: Path): Array[FileStatus] =
    CountingFs.record("list", f)(super.listStatus(f))
  override def getFileStatus(f: Path): FileStatus =
    CountingFs.record("stat", f)(super.getFileStatus(f))
  override def open(f: Path, bufferSize: Int): FSDataInputStream =
    CountingFs.record("open", f)(super.open(f, bufferSize))
}

object CountingFs {
  val Scheme = "graftcount"

  private val depth = ThreadLocal.withInitial[Integer](() => 0)
  private val calls = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String, String)]()

  private def record[T](op: String, f: Path)(body: => T): T = {
    if (depth.get == 0) calls.add((Thread.currentThread.getId, op, f.toUri.getPath))
    depth.set(depth.get + 1)
    try body finally depth.set(depth.get - 1)
  }

  /** A fresh dir under the `graftcount` scheme, with the scheme
    * registered in `spark`'s Hadoop conf. */
  def dir(spark: org.apache.spark.sql.SparkSession, prefix: String): String = {
    spark.sparkContext.hadoopConfiguration.set(s"fs.$Scheme.impl", classOf[CountingFs].getName)
    s"$Scheme:${TempDirs.create(prefix)}"
  }

  /** `body`'s value and the (op, path) calls it made on this thread. */
  def during[T](body: => T): (T, Seq[(String, String)]) = {
    val me = Thread.currentThread.getId
    calls.clear()
    val out = body
    (out, calls.toArray(Array.empty[(Long, String, String)]).toSeq.collect {
      case (t, op, p) if t == me => (op, p)
    })
  }
}
