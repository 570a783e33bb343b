package graft.store

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Thrown when a store already has a LIVE writer: the caller must
  * retry after the holder finishes (or crashes past the TTL) — never
  * proceed, the swap discipline is single-writer. */
final class ConcurrentWriterException(msg: String)
  extends RuntimeException(msg)

/**
 * Single-writer lease for mutable stores (r18 verdict item 6). The
 * dedup stores' compaction swap and the read-modify-write summary
 * updates (Bm25.appendLexicon, the dedup signature stores) assume ONE
 * writer: two interleaved appends can interleave staging and swap, and
 * the second summary rewrite silently loses the first's adds. This makes
 * the discipline explicit — writers CLAIM the store before mutating,
 * and a second concurrent writer fails LOUDLY with
 * [[ConcurrentWriterException]] instead of corrupting silently; the
 * caller retries once the holder is done (ConcurrencySpec drives the
 * race and the retry).
 *
 * Claim = atomic create-no-overwrite of the sibling file
 * `<root>.graft-lease` (outside the store directory, so it survives
 * compaction's whole-directory rename swap and never appears in a
 * reader's file listing) containing `token stampMillis`. Atomicity:
 * java.nio CREATE_NEW on `file:` (Hadoop's LocalFileSystem
 * create(overwrite=false) is check-then-create — a TOCTOU hole two
 * same-box writers race straight through); on hdfs:// the
 * no-overwrite create is atomic at the NameNode. Object stores need a
 * conditional put or an external lock service — out of scope here.
 *
 * A lease OLDER than the TTL (`spark.graft.lease.ttlMs`, default
 * 15 min) is a crashed holder's leftover: it is broken and
 * re-claimed. The narrow delete/re-create race between two breakers
 * resolves to exactly one winner because the create is atomic.
 */
object Lease {

  val TtlConf = "spark.graft.lease.ttlMs"
  val DefaultTtlMs: Long = 15L * 60 * 1000

  /** Run `body` holding the exclusive writer lease on `root`. */
  def withLease[T](s: SparkSession, root: String)(body: => T): T = {
    val token = acquire(s, root)
    try body
    finally release(s, root, token)
  }

  private def leasePath(root: String) =
    new Path(root.stripSuffix("/") + ".graft-lease")

  private def fsOf(s: SparkSession, root: String): FileSystem =
    new Path(root).getFileSystem(s.sessionState.newHadoopConf())

  private def ttlMs(s: SparkSession): Long =
    s.conf.getOption(TtlConf).map(_.toLong).getOrElse(DefaultTtlMs)

  /** Atomic create-no-overwrite with the lease payload; false when the
    * file already exists (someone holds or held the lease). */
  private def tryClaim(fs: FileSystem, p: Path, payload: String): Boolean = {
    val bytes = payload.getBytes("UTF-8")
    if (fs.getScheme == "file") {
      val local = java.nio.file.Paths.get(p.toUri.getPath)
      Option(local.getParent)
        .foreach(java.nio.file.Files.createDirectories(_))
      try {
        java.nio.file.Files.write(local, bytes,
          java.nio.file.StandardOpenOption.CREATE_NEW)
        true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException => false
      }
    } else {
      fs.mkdirs(p.getParent)
      try {
        val out = fs.create(p, false)
        out.write(bytes); out.close()
        true
      } catch { case _: java.io.IOException => false }
    }
  }

  /** Claim the lease or throw [[ConcurrentWriterException]]; an
    * expired lease (crashed holder) is broken and re-claimed. Returns
    * the holder token for [[release]]. */
  def acquire(s: SparkSession, root: String): String = {
    val fs = fsOf(s, root)
    val p = leasePath(root)
    val token = java.util.UUID.randomUUID().toString
    val now = System.currentTimeMillis()
    if (tryClaim(fs, p, s"$token $now")) return token
    // held — live or stale? A holder creates the file before it
    // writes the payload, so a file without a stamp is a claim in
    // progress: its age is the file's own modification time.
    val stamp =
      try {
        val txt = new String(org.apache.hadoop.io.IOUtils
          .readFullyToByteArray(fs.open(p)), "UTF-8")
        txt.split(' ').lift(1).flatMap(_.toLongOption)
          .orElse(Some(fs.getFileStatus(p).getModificationTime))
      } catch { case _: java.io.IOException => None } // vanished: racer
    stamp match {
      case Some(t) if now - t <= ttlMs(s) =>
        throw new ConcurrentWriterException(
          s"store $root has a live writer (lease ${now - t} ms old, " +
            s"ttl ${ttlMs(s)} ms) — retry after it completes")
      case _ =>
        // expired (or unreadable/vanished): break and re-claim; the
        // atomic create arbitrates between concurrent breakers
        try fs.delete(p, false)
        catch { case _: java.io.IOException => () }
        if (tryClaim(fs, p, s"$token $now")) token
        else throw new ConcurrentWriterException(
          s"store $root: lost the re-claim race for an expired lease")
    }
  }

  /** Drop the lease if still held by `token` (a broken-and-reclaimed
    * lease belongs to the new holder and is left alone). */
  def release(s: SparkSession, root: String, token: String): Unit = {
    val fs = fsOf(s, root)
    val p = leasePath(root)
    try {
      val txt = new String(org.apache.hadoop.io.IOUtils
        .readFullyToByteArray(fs.open(p)), "UTF-8")
      if (txt.startsWith(token)) fs.delete(p, false): Unit
    } catch { case _: java.io.IOException => () }
  }
}
