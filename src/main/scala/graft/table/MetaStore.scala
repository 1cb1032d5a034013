package graft.table

import com.fasterxml.jackson.databind.{DeserializationFeature, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path => HPath}

import java.nio.charset.StandardCharsets.UTF_8
import java.util.UUID

/** Small-file metadata IO on one FileSystem — counted reads, writes,
  * listings and deletes — and its one publish fence, [[publishString]]:
  * a lake's manifests and registry, and the write-once markers outside a
  * lake ([[writeOnce]]). `publish`: see [[GraftLake.Publish]]. */
final class MetaStore(val fs: FileSystem,
    publish: GraftLake.Publish = GraftLake.Publish.Rename) {

  /** Count of metadata FS operations (open/create/list/delete on the log
    * and data namespaces) — lets tests PIN that commit+retention IO is
    * O(touched buckets), independent of total table file count. Data-file
    * writes/footer reads are excluded: they are O(batch) by construction. */
  val metaOps = new java.util.concurrent.atomic.AtomicLong(0L)

  def read(p: HPath): String = {
    metaOps.incrementAndGet()
    val in = fs.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }
  def write(p: HPath, s: String): Unit = {
    metaOps.incrementAndGet()
    val out = fs.create(p, true)
    try out.write(s.getBytes(UTF_8)) finally out.close()
  }
  def list(p: HPath): Seq[FileStatus] = {
    metaOps.incrementAndGet()
    fs.listStatus(p).toSeq
  }
  def delete(p: HPath, recursive: Boolean = false): Unit = {
    metaOps.incrementAndGet()
    fs.delete(p, recursive); ()
  }

  /** Manifest form of a FileSystem path (plain path for the local scheme). */
  def externalize(p: HPath): String = {
    val u = p.toUri
    if (u.getScheme == null || u.getScheme == "file") u.getPath else p.toString
  }

  /** Single-writer-wins publish of `s` at `dst`: returns true when this
    * call made `dst` visible, false when another writer got there first
    * (the caller's fencing/retry decision). See [[GraftLake.Publish]]. */
  def publishString(dst: HPath, s: String): Boolean = publish match {
    case GraftLake.Publish.Rename =>
      val tmp = new HPath(dst.getParent, s".tmp-${UUID.randomUUID()}")
      write(tmp, s)
      if (fs.getScheme == "file") {
        // Hadoop's LOCAL rename is check-then-rename(2): two racers can
        // both pass the internal dst-exists check, and the second
        // rename(2) then silently OVERWRITES the first — destroying the
        // winner's already-published snapshot (pinned by the racing-commit
        // test). link(2) is the local
        // filesystem's conditional PUT: an atomic create-exclusive of the
        // final name over fully-written content — exactly the fence the
        // Cas mode gets from create(overwrite = false) on object stores.
        val won =
          try {
            java.nio.file.Files.createLink(
              java.nio.file.Paths.get(dst.toUri.getPath),
              java.nio.file.Paths.get(tmp.toUri.getPath))
            true
          } catch { case _: java.nio.file.FileAlreadyExistsException => false }
        delete(tmp) // hard-linked into place (or the lost race's leftover)
        won
      } else if (fs.rename(tmp, dst)) true // HDFS: atomic fail-on-existing
      else { delete(tmp); false }
    case GraftLake.Publish.Cas =>
      metaOps.incrementAndGet()
      val out =
        try fs.create(dst, false) // exclusive: the conditional-PUT analog
        catch {
          case _: org.apache.hadoop.fs.FileAlreadyExistsException => return false
          case _: java.nio.file.FileAlreadyExistsException => return false
        }
      try out.write(s.getBytes(UTF_8)) finally out.close()
      true
  }

  /** The write-once marker at `p` — a checkpoint's lineage, a changelog
    * source's persisted base — as `parse` reads its trimmed content; when
    * `p` is absent or unparsable (blank or torn by a crash between create
    * and write), `fresh` published through [[publishString]], or the
    * winner's value when another writer's publish got there first. */
  def writeOnce[T](p: HPath, parse: String => Option[T])(fresh: => String): T = {
    def current(): Option[T] = if (!fs.exists(p)) None else parse(read(p).trim)
    var attempts = 0
    var out = current()
    while (out.isEmpty && attempts < 3) {
      attempts += 1
      if (fs.exists(p)) delete(p) // torn-write artifact
      fs.mkdirs(p.getParent)
      val v = fresh
      out = if (publishString(p, v)) parse(v) else current()
    }
    out.getOrElse(throw new IllegalStateException(
      s"could not publish $p after $attempts attempts"))
  }
}

object MetaStore {
  /** A rename-publishing store on `p`'s FileSystem, written through the
    * way lake metadata is ([[NioLocalFileSystem.forLake]]). */
  def at(p: HPath): MetaStore = new MetaStore(NioLocalFileSystem.forPath(p))

  private[table] val mapper = new ObjectMapper()
    .registerModule(DefaultScalaModule)
    .configure(DeserializationFeature.FAIL_ON_UNKNOWN_PROPERTIES, false)
}
