package graft.store

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/**
 * Committer-style POINTER-FILE protocol for atomically swapping a
 * rewritten artifact directory. It needs no atomic DIRECTORY rename
 * (true on file:// and hdfs://, false on s3a, where a directory
 * rename is a per-object copy+delete a crash can interrupt halfway),
 * so it is safe on every filesystem. The BM25 lexicon summaries and
 * the ANN slice-count store are written through it.
 *
 * Layout: `root/<name>.v<N>/` immutable version directories plus one
 * tiny `root/<name>.CURRENT` pointer whose single line names the live
 * version. A rewrite writes the NEXT version directory in full (the
 * writer's `_SUCCESS` marks completeness), then flips the pointer.
 * The flip is the only mutation of shared state and it is one
 * single-FILE replace: write `<name>.CURRENT.tmp`, rename over the
 * pointer. A single-object rename is safe everywhere the directory
 * rename is not — on s3a it is one atomic copy PUT (readers see the
 * old or the new pointer bytes, never a blend) and on file://+hdfs://
 * it is a metadata move.
 *
 * Crash matrix (every row leaves a servable store):
 *  - during the version write: pointer untouched, readers on old;
 *    the incomplete `v<N+1>` has no `_SUCCESS` and the next writer
 *    overwrites it.
 *  - after the write, before the flip: same — committed but unnamed;
 *    the next rewrite simply supersedes it.
 *  - during the flip: pointer is old or new, never torn; a leftover
 *    `.tmp` is swept by the next flip.
 *  - pointer DELETED or the delete+rename fallback's gap: readers
 *    fall back to the highest COMMITTED version — `_SUCCESS`-complete
 *    AND not flagged by the sibling `<name>.v<N>.INPROGRESS` marker
 *    that [[next]] plants and only [[commit]] removes. Without the
 *    marker a writer crashing AFTER the version write but BEFORE the
 *    flip would leave a complete-but-never-committed v(N+1) that the
 *    fallback would wrongly prefer over the pointer's vN; with it,
 *    the fallback gives the same answer the pointer would have.
 *    (The marker is deleted right after the flip; a crash in that
 *    one-file window parks the just-committed version behind a stale
 *    marker, so a later pointer loss serves the PREVIOUS committed
 *    version — stale but never uncommitted. The next commit sweeps
 *    stale markers at or below it.)
 *
 * GC keeps the previous version alongside the live one (in-flight
 * readers that resolved the old pointer finish their scan against
 * immutable bytes); older versions delete at commit.
 */
object Versioned {

  private def fsOf(s: SparkSession, root: String): FileSystem =
    new Path(root).getFileSystem(s.sessionState.newHadoopConf())

  private def pointerPath(root: String, name: String) =
    new Path(root, s"$name.CURRENT")

  private def versionDir(root: String, name: String, v: Int) =
    new Path(root, s"$name.v$v")

  /** Sibling (NOT inside the version dir — parquet's overwrite would
    * erase it) marker present from [[next]] until [[commit]]: while it
    * exists the version is not servable by the pointer-loss fallback. */
  private def inProgressMarker(root: String, name: String, v: Int) =
    new Path(root, s"$name.v$v.INPROGRESS")

  /** Parse "…/<name>.v<N>" → N. */
  private def versionOf(p: Path, name: String): Option[Int] = {
    val prefix = s"$name.v"
    val n = p.getName
    if (n.startsWith(prefix)) n.drop(prefix.length).toIntOption else None
  }

  private def readPointer(fs: FileSystem, root: String,
      name: String): Option[Int] = {
    val p = pointerPath(root, name)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val line =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
        finally in.close()
      // a corrupt pointer is impossible under the protocol (the flip
      // is old-or-new); fail loudly rather than guess
      val v = line.stripPrefix("v").toIntOption.getOrElse(
        throw new IllegalStateException(
          s"versioned store $root/$name: corrupt pointer '$line'"))
      Some(v)
    }
  }

  /** All COMMITTED version numbers on disk: `_SUCCESS`-complete and
    * not carrying an in-progress marker (a marker means the writer
    * never reached [[commit]] — complete bytes, uncommitted state). */
  private def completeVersions(fs: FileSystem, root: String,
      name: String): Seq[Int] = {
    val glob = new Path(root, s"$name.v*")
    val stats = Option(fs.globStatus(glob)).getOrElse(Array.empty)
    stats.toIndexedSeq.filter(_.isDirectory)
      .flatMap(st => versionOf(st.getPath, name))
      .filter(v => fs.exists(new Path(versionDir(root, name, v), "_SUCCESS")) &&
        !fs.exists(inProgressMarker(root, name, v)))
  }

  /** The directory the NEXT version must be written to (pointer+1, or
    * 0 for a fresh store), as (path string, version). Any leftover of
    * an earlier crashed write at that version is cleared first. */
  def next(s: SparkSession, root: String, name: String): (String, Int) = {
    val fs = fsOf(s, root)
    val v = readPointer(fs, root, name)
      .orElse(completeVersions(fs, root, name).maxOption)
      .fold(0)(_ + 1)
    val dir = versionDir(root, name, v)
    if (fs.exists(dir)) fs.delete(dir, true)
    // plant the marker BEFORE any version bytes exist, so there is no
    // instant at which the version looks complete yet uncommitted
    fs.create(inProgressMarker(root, name, v), true).close()
    (dir.toString, v)
  }

  /** Flip the pointer to `version` (one single-file replace), then GC
    * versions older than the one being superseded. */
  def commit(s: SparkSession, root: String, name: String,
      version: Int): Unit = {
    val fs = fsOf(s, root)
    require(
      fs.exists(new Path(versionDir(root, name, version), "_SUCCESS")),
      s"versioned store $root/$name: committing v$version without _SUCCESS")
    val cur = pointerPath(root, name)
    val tmp = new Path(root, s"$name.CURRENT.tmp")
    val out = fs.create(tmp, true)
    try out.write(s"v$version\n".getBytes("UTF-8")) finally out.close()
    // single-FILE replace: atomic rename where the FS has one; the
    // delete+rename fallback's gap is covered by the reader fallback
    if (!renameOver(fs, tmp, cur))
      throw new IllegalStateException(
        s"versioned store $root/$name: pointer flip to v$version failed")
    // the version is now named by the pointer: clear its marker, plus
    // any stale marker a flip-window crash left on an older version
    // (one glob, not one exists() per historical version)
    val markerGlob = new Path(root, s"$name.v*.INPROGRESS")
    Option(fs.globStatus(markerGlob)).getOrElse(Array.empty).foreach { st =>
      val core = st.getPath.getName.stripSuffix(".INPROGRESS")
      versionOf(new Path(core), name).filter(_ <= version)
        .foreach(_ => fs.delete(st.getPath, false): Unit)
    }
    completeVersions(fs, root, name)
      .filter(_ < version - 1)
      .foreach(old => fs.delete(versionDir(root, name, old), true): Unit)
  }

  private def renameOver(fs: FileSystem, src: Path, dst: Path): Boolean = {
    if (fs.exists(dst)) fs.delete(dst, false)
    try fs.rename(src, dst)
    catch { case _: java.io.IOException => false }
  }

  /** The live version's directory: the pointer's target, or (pointer
    * absent — fresh delete+rename gap, or external cleanup) the
    * highest complete version on disk. */
  def current(s: SparkSession, root: String, name: String): String = {
    val fs = fsOf(s, root)
    val v = readPointer(fs, root, name)
      .orElse(completeVersions(fs, root, name).maxOption)
      .getOrElse(throw new java.io.FileNotFoundException(
        s"versioned store $root/$name: no pointer and no complete version"))
    versionDir(root, name, v).toString
  }

  /** One full rewrite: write the next version via `write(dir)`, then
    * flip. The writer must leave a `_SUCCESS` (any parquet save
    * does). */
  def rewrite(s: SparkSession, root: String, name: String)(
      write: String => Unit): Unit = {
    val (dir, v) = next(s, root, name)
    write(dir)
    commit(s, root, name, v)
  }
}
