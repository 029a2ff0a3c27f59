package graft

/** Spec scratch dirs: a fresh `<prefix>-<uuid>` dir under
  * java.io.tmpdir that Spark's shutdown hook deletes when the test JVM
  * exits (`graftbridge.TempDirBridge`, the hook `Indexes.ensure` dirs
  * use), so a full `sbt test` run leaves no dirs behind. A drop-in for
  * `Files.createTempDirectory(prefix)`. */
object TempDirs {
  def create(prefix: String): java.nio.file.Path =
    java.nio.file.Paths.get(org.apache.spark.sql.graftbridge.TempDirBridge.create(prefix))
}
