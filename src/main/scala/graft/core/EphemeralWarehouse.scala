package graft.core

/** Per-process `spark.sql.warehouse.dir` under the system tmpdir.
  *
  * Every graft session (Verify, Bench, the specs) is built with
  * `config("spark.sql.warehouse.dir", EphemeralWarehouse.dir)`, so managed
  * tables (the bucketed layouts of `join_bucketed` and `join_asof_bucketed`,
  * spec fixtures) are private to the process: a JVM can never delete or
  * overwrite a sibling's live table files mid-read.
  *
  * Invariants: nothing in it outlives the process (the directory is deleted
  * on JVM exit), and nothing is read from it that the same process did not
  * write.
  */
object EphemeralWarehouse {
  lazy val dir: String = {
    val root = java.nio.file.Files.createTempDirectory("graft-wh-")
    Runtime.getRuntime.addShutdownHook(new Thread(() => LocalFiles.deleteTree(root)))
    root.toAbsolutePath.toString
  }
}
