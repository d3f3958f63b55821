package graft

import java.nio.file.{Files, Path}
import graft.streaming.ManifestTable

/** Object-store storage emulation for specs — implements the manifest
  * layer's COMPLETE storage contract (FileIO + CasPrimitive) with only
  * what an object store offers: GET, whole-object PUT (a direct write —
  * never a rename), conditional PUT (store-side atomicity, emulated by an
  * in-JVM mutex around exists+write), LIST, DELETE, and
  * upload+delete-source promotion. There is NO `Files.move` and NO
  * `Files.createLink` anywhere in this class: any spec that passes with
  * this installed proves the component under test needs nothing
  * rename-shaped from storage. Objects land as plain local files because
  * Spark reads the data plane through its Hadoop filesystem (parent
  * directories are an artifact of the key→path mapping, not a protocol
  * step).
  *
  * Shared by ManifestTableSpec (raw-protocol crash matrix) and the
  * component suites (ANN index, streaming near-dup) that prove whole
  * managed-table features run object-store-posture end-to-end.
  */
final class ObjectStoreTestIO extends ManifestTable.FileIO {
  private val mutex = new Object
  def exists(path: Path): Boolean = Files.exists(path)
  def read(path: Path): Array[Byte] = Files.readAllBytes(path)
  def write(path: Path, bytes: Array[Byte]): Unit = mutex.synchronized {
    Files.createDirectories(path.getParent)
    Files.write(path, bytes) // PUT: direct write, no tmp+rename
    ()
  }
  def delete(path: Path): Unit = { Files.deleteIfExists(path); () }
  def list(dir: Path): Seq[Path] =
    if (!Files.isDirectory(dir)) Nil
    else {
      val s = Files.list(dir)
      try { import scala.jdk.CollectionConverters._; s.iterator().asScala.toList }
      finally s.close()
    }
  def listRecursive(dir: Path): Seq[Path] =
    if (!Files.isDirectory(dir)) Nil
    else {
      val s = Files.walk(dir)
      try { import scala.jdk.CollectionConverters._
        s.iterator().asScala.filter(Files.isRegularFile(_)).toList }
      finally s.close()
    }
  def deletePrefix(dir: Path): Unit = graft.Storage.deleteTree(dir)
  def lastModifiedMillis(path: Path): Long = Files.getLastModifiedTime(path).toMillis
  def size(path: Path): Long = Files.size(path)
  def promote(src: Path, target: Path): Unit = {
    // object-store upload: copy bytes to the final key, delete the staged
    // source — NOT a rename; needs no atomicity because the file is
    // invisible until a manifest names it
    Files.createDirectories(target.getParent)
    Files.write(target, Files.readAllBytes(src))
    Files.deleteIfExists(src)
    ()
  }
  /** The store's conditional PUT: atomic publish-if-absent, with the
    * atomicity the real store provides natively (S3 If-None-Match, GCS
    * ifGenerationMatch(0)) emulated by the mutex. */
  val cas: ManifestTable.CasPrimitive = new ManifestTable.CasPrimitive {
    def publish(target: Path, bytes: Array[Byte]): Boolean = mutex.synchronized {
      if (Files.exists(target)) false
      else {
        Files.createDirectories(target.getParent)
        Files.write(target, bytes)
        true
      }
    }
  }
}

object ObjectStoreTestIO {
  /** Install the object-store posture on `tables` for the test body. */
  def withObjectStore[T](tables: String*)(f: ObjectStoreTestIO => T): T = {
    val store = new ObjectStoreTestIO
    tables.foreach { t =>
      ManifestTable.setFileIO(t, store)
      ManifestTable.setCasPrimitive(t, store.cas)
    }
    try f(store)
    finally tables.foreach { t =>
      ManifestTable.clearFileIO(t)
      ManifestTable.clearCasPrimitive(t)
    }
  }
}
