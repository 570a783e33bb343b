package graft.tools

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

/** Local-filesystem helpers for gate/bench scaffolding (stores, scratch
  * index trees) — NOT used by distributed operators, which go through
  * the Hadoop FS API.
  *
  * Scope contract: every caller of these helpers operates on
  * `$TmpRoot/graft-*` roots over driver-local testdata — single-process
  * memoization for the gate/bench sweeps, never a production artifact
  * root. The library-level stateful artifacts the caches wrap
  * (graft.index.Index, graft.dedup.Dedup stores, graft.text.Bm25
  * lexicons) resolve their FileSystem from the path's scheme and are
  * exercised on explicit `file://` URIs by FileSystemSchemeSpec — an
  * artifact root that is a URI must go through those APIs, not through
  * this object.
  *
  * Cache contract ([[cached]], the one artifact cache of the query
  * layer):
  *  - Key: `$TmpRoot/graft-<kind>/<dirKey>-<fp>[-tag]`. `dirKey` is `d`
  *    and the source dir with every non-`[A-Za-z0-9.]` char mapped to
  *    `_` (`/abs/dir` → `d_abs_dir`), so no artifact is hidden from Spark;
  *    `fp` is a content fingerprint (length ⊕ mtime) of the source
  *    inputs, so a regenerated dataset REBUILDS instead of serving
  *    artifacts derived from dead data, and two dirs whose sanitized
  *    names collide still get distinct keys. `tag` carries whatever
  *    else is part of the artifact's identity (geometry, vocabulary,
  *    layout version).
  *  - Commit: the build writes into the sibling `<key>.staging`; a
  *    `_GRAFT_COMMITTED` marker is written last and the directory is
  *    renamed into place. An artifact is served only when its marker
  *    is present, so a crashed or throwing build leaves nothing that is
  *    served, and the next probe rebuilds it once.
  *  - Sweep: a build drops the siblings of the same source dir whose
  *    fingerprint differs (bounding `$TmpRoot` to one generation per
  *    dataset). Siblings that share the fingerprint — other tags, such
  *    as the day/hour index trees — are left alone.
  *  - Locking: one lock per artifact path, so concurrent callers of one
  *    key build it once, and nested builds (a derived store built from
  *    its base store) take different locks. */
object LocalFs {
  /** Root directory for the artifact caches: "/tmp" for the bench,
    * verify and the CLI (the property is never set there). `sbt test`
    * forks suites as CONCURRENT JVM groups (build.sbt) and gives each
    * group its own root via -Dgraft.tmp.root: two JVMs cold-building
    * the SAME key would otherwise race on one staging dir. */
  val TmpRoot: String = sys.props.getOrElse("graft.tmp.root", "/tmp")

  private val Committed = "_GRAFT_COMMITTED"

  private val locks =
    new java.util.concurrent.ConcurrentHashMap[String, AnyRef]()

  private[graft] def dirKey(dir: String): String =
    "d" + dir.replaceAll("[^A-Za-z0-9.]", "_")

  /** Where [[cached]] keeps the artifact of `kind` built from `inputs`
    * (file or directory names under `dir`). */
  def path(kind: String, dir: String, inputs: Seq[String],
      tag: String = ""): String = {
    val fp = inputs.map(i => fingerprint(new java.io.File(s"$dir/$i")))
      .mkString("_")
    s"$TmpRoot/graft-$kind/${dirKey(dir)}-$fp${if (tag.isEmpty) "" else s"-$tag"}"
  }

  /** The committed artifact at [[path]], built by `build(stagingDir)`
    * on a miss (see the cache contract above). */
  def cached(kind: String, dir: String, inputs: Seq[String],
      tag: String = "")(build: String => Unit): String = {
    val p = path(kind, dir, inputs, tag)
    locks.computeIfAbsent(p, _ => new AnyRef).synchronized {
      val live = Paths.get(p)
      if (!Files.exists(live.resolve(Committed))) {
        dropStaleSiblings(live, dirKey(dir))
        val staging = Paths.get(s"$p.staging")
        deleteRec(staging)
        build(staging.toString)
        Files.createDirectories(staging)
        Files.createFile(staging.resolve(Committed))
        deleteRec(live)
        Files.move(staging, live, StandardCopyOption.ATOMIC_MOVE)
      }
    }
    p
  }

  /** Content fingerprint of a file-or-directory (length ⊕ mtime over
    * the file / its children). */
  private def fingerprint(f: java.io.File): String = {
    def stamp(x: java.io.File): Long = 31L * x.length() + x.lastModified()
    val s =
      if (f.isDirectory) f.listFiles().map(stamp).foldLeft(stamp(f))(_ ^ _)
      else stamp(f)
    java.lang.Long.toHexString(s)
  }

  /** Drop the entries beside `live` that come from the same source dir
    * (`<dirKey>-…`) under a different fingerprint. A dir key has no `-`
    * and a fingerprint has neither `-` nor `.`, so `<dirKey>-<fp>`
    * followed by the end, `-` or `.` names exactly one generation.
    * Entries under the dir's key from before the `d` prefix
    * (`_abs_dir-…`) are all stale. Every current key starts with `d`, so
    * an old key that does not can name no current generation. */
  private def dropStaleSiblings(live: Path, key: String): Unit = {
    val stem = live.getFileName.toString.split('-').take(2).mkString("-")
    val oldKey = key.drop(1)
    Option(live.getParent.toFile.listFiles()).toSeq.flatten
      .map(_.getName)
      .filter(n => (n.startsWith(s"$key-") && n != stem &&
        !n.startsWith(s"$stem-") && !n.startsWith(s"$stem.")) ||
        (!oldKey.startsWith("d") && n.startsWith(s"$oldKey-")))
      .foreach(n => deleteRec(live.resolveSibling(n)))
  }

  /** Recursive delete; missing path is a no-op. */
  def deleteRec(p: Path): Unit =
    if (Files.exists(p)) {
      import scala.jdk.CollectionConverters._
      Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach(Files.deleteIfExists(_))
    }
}
