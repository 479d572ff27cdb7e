package graft

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.DataFrame

/** Run-scoped scratch directories for the entries that build throwaway
  * pots, sinks and checkpoints. The directory is deleted when `body`
  * returns or throws, so a failing entry leaves nothing behind. An entry
  * whose result is a DataFrame over those files runs under [[pinned]],
  * which materializes the frame before the files go.
  */
object Scratch {

  /** Create a temp dir named `prefix<digits>`, pass its path to `body`,
    * and delete it recursively afterwards. `ram = true` places it on
    * /dev/shm when that is a writable directory, otherwise in the JVM
    * tmpdir as without it: a bounded streaming run's sink and
    * checkpoint are gone once its result is materialized, so durability
    * buys nothing there, while WAL, state-store and manifest fsyncs are a
    * measurable slice of the run on a disk-backed tmpdir. A production
    * stream's checkpoint belongs on durable shared storage instead.
    */
  def withDir[T](prefix: String, ram: Boolean = false)(body: String => T): T = {
    val shm = new File("/dev/shm")
    val dir =
      if (ram && shm.isDirectory && shm.canWrite)
        Files.createTempDirectory(shm.toPath, prefix)
      else Files.createTempDirectory(prefix)
    try body(dir.toString)
    finally new scala.reflect.io.Directory(dir.toFile).deleteRecursively()
  }

  /** [[withDir]] for a body that returns a DataFrame: the frame is pinned
    * (`localCheckpoint(true)`, blocks cached and lineage cut) before the
    * dir is deleted, since the files it reads are gone after the call.
    */
  def pinned(prefix: String, ram: Boolean = false)(
      body: String => DataFrame): DataFrame =
    withDir(prefix, ram)(dir => body(dir).localCheckpoint(true))
}
