package graft

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.index.Index
import graft.index.Index.Metric
import graft.sources.Sources
import graft.text.Bm25

/** Every stateful artifact (index tree, dedup signature store, BM25
  * lexicon) is maintained through the Hadoop FileSystem API so its root
  * can live on whatever scheme the cluster mounts — the counterpart of
  * dragnet keeping its index state behind a pluggable datasource
  * (lib/datasource-manta.js vs datasource-file.js). This suite is the
  * executable proof: every root here is an EXPLICIT `file://` URI, so
  * each lifecycle resolves its FileSystem from the path's scheme (the
  * code path a `hdfs://` or `s3a://` root takes) rather than falling
  * through java.io/default-FS behavior, and the versioned-summary
  * protocol (graft.store.Versioned) is driven through every crash state
  * against that scheme-resolved FS.
  */
class FileSystemSchemeSpec extends SparkSpec {
  import spark.implicits._

  private def fileRoot(tag: String): String =
    "file://" + tempDir(s"graft-fss-$tag")
      .toString

  private def fsOf(root: String): FileSystem =
    new Path(root).getFileSystem(spark.sessionState.newHadoopConf())

  test("file:// roots resolve a scheme-qualified FileSystem, not the default") {
    val root = fileRoot("probe")
    val fs = fsOf(root)
    assert(fs.getUri.getScheme == "file")
    // the spec's premise: these paths carry their scheme end to end
    assert(new Path(root).toUri.getScheme == "file")
  }

  test("index build + update + compact lifecycle on an explicit file:// root") {
    val ev = Sources.events(spark, sf001)
    val metric = Metric("by_type", Seq(FieldSpec.plain("event_type")))
    val root = fileRoot("index")
    Index.build(ev, Seq(metric), root, timeField = "ts", interval = "day")
    val cfg = QueryConfig(breakdowns = Seq(FieldSpec.plain("event_type")))
    val fromScan = Scan.scan(ev, cfg).collect().map(_.toSeq).toSet
    assert(Index.query(spark, root, Seq(metric), cfg)
      .collect().map(_.toSeq).toSet == fromScan, "build+query on file://")

    // update: replay one day through the dynamic-partition-overwrite
    // path — same totals, still one file per day, still on file://
    val someDay = spark.read.parquet(Index.metricPath(root, "day", "by_type"))
      .select(col("dn_date").cast("string")).distinct()
      .orderBy(col("dn_date")).limit(1).collect().head.getString(0)
    val dayRows = ev.where(to_date(col("ts")) === lit(someDay))
    Index.update(dayRows, Seq(metric), root, timeField = "ts")
    assert(Index.query(spark, root, Seq(metric), cfg)
      .collect().map(_.toSeq).toSet == fromScan, "update on file://")

    // compact: fragment a fresh metric tree with a deliberately
    // non-day-clustered write, compact to one file per day through the
    // scheme-resolved FS, and the query still equals the raw scan
    val root2 = fileRoot("index-compact")
    val mp = Index.metricPath(root2, "day", "by_type")
    Index.scanRows(ev, metric, "ts", "day")
      .repartition(8).write.partitionBy("dn_date").parquet(mp)
    val fs = fsOf(root2)
    def filesPerDay: Seq[Int] = fs.listStatus(new Path(mp))
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("dn_date="))
      .map(d => fs.listStatus(d.getPath)
        .count(f => f.isFile && f.getPath.getName.startsWith("part-"))).toSeq
    assert(filesPerDay.exists(_ > 1), "setup must fragment")
    val days = Index.compact(spark, root2, "by_type")
    assert(days.nonEmpty && filesPerDay.forall(_ == 1))
    assert(Index.query(spark, root2, Seq(metric), cfg)
      .collect().map(_.toSeq).toSet == fromScan, "compact on file://")
  }

  test("signature-store append/retire/compact lifecycle on an explicit file:// root") {
    def rep(s: String) = (s + " ") * 20
    val old = Seq((1L, rep("a b c")), (2L, rep("d e f"))).toDF("doc_id", "text")
    val store = fileRoot("sigstore") + "/store"
    Dedup.signatureStore(old).write.mode("overwrite").parquet(store)

    // append: crawl A's keepers enter the store through the file:// path
    val crawlA = Seq((10L, rep("a b c")), (11L, rep("g h i")))
      .toDF("doc_id", "text")
    val keptA = Dedup.appendKeepersToStore(spark, crawlA, store)
      .collect().map(_.getLong(0)).toSet
    assert(keptA == Set(11L))

    // retire doc 2 (tombstone append), then compact (the two-rename
    // swap) — both resolve their FS from the file:// scheme
    Dedup.retireFromStore(spark, Seq(2L).toDF("doc_id"), store)
    val files = Dedup.compactStore(spark, store)
    assert(files >= 1)
    // post-compact semantics: 2's twin is keepable again, 11's is not
    val crawlB = Seq((20L, rep("d e f")), (21L, rep("g h i")))
      .toDF("doc_id", "text")
    val keptB = Dedup.incrementalKeepers(crawlB, spark.read.parquet(store))
      .collect().map(_.getLong(0)).toSet
    assert(keptB == Set(20L))
  }

  test("lexicon build + incremental append (versioned summaries) on an explicit file:// root") {
    val old = Seq(
      (1L, "spark merge fast table"),
      (2L, "merge merge slow"),
      (4L, "spark spark spark scan")).toDF("doc_id", "text")
    val batch = Seq((3L, "merge table table")).toDF("doc_id", "text")
    val inc = fileRoot("lex") + "/lexicon"
    Bm25.buildLexicon(old, inc)
    Bm25.appendLexicon(spark, batch, inc) // two summary versions on file://
    val full = fileRoot("lexfull") + "/lexicon"
    Bm25.buildLexicon(old.union(batch), full, vocabDocs = Some(old))
    val a = Bm25.bm25FromLexicon(spark, inc, 10, Seq("spark", "merge"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val b = Bm25.bm25FromLexicon(spark, full, 10, Seq("spark", "merge"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(a == b && a.nonEmpty)
    // the summaries are pointer-managed: no plain directory beside them
    val fs = fsOf(inc)
    for (n <- Seq("df", "stats")) {
      assert(fs.exists(new Path(inc, s"$n.CURRENT")), s"$n pointer missing")
      assert(!fs.exists(new Path(inc, n)), s"plain $n directory written")
    }
  }

  test("packed-shard artifact writes land on an explicit file:// root") {
    val docs = (1L to 9L).map(i => (i, s"alpha beta word$i gamma"))
      .toDF("doc_id", "text")
    val root = fileRoot("shards") + "/pack"
    graft.dedup.Corpus.writeShards(docs, root, seqLen = 4, shards = 2)
    val fs = fsOf(root)
    assert(fs.exists(new Path(s"$root/members/_SUCCESS")))
    assert(fs.exists(new Path(s"$root/seqs/_SUCCESS")))
    // the artifact is readable back through the same scheme and
    // self-consistent: window token totals == member token totals
    val members = spark.read.parquet(s"$root/members")
    val seqs = spark.read.parquet(s"$root/seqs")
    val mToks = members.agg(sum(col("n_toks"))).head.getLong(0)
    val sToks = seqs.select(explode(col("tokens"))).count()
    assert(mToks == sToks && mToks > 0)
  }

  // ---- the pointer-file (committer-style) protocol: the object-store
  // swap (graft.store.Versioned) driven through its full lifecycle and
  // every crash-between-steps state, all on an explicit file:// root.

  private def writeV(dir: String, rows: Seq[(String, Long)]): Unit =
    rows.toDF("term", "df").coalesce(1)
      .write.mode("overwrite").parquet(dir)

  private def readV(dir: String): Set[(String, Long)] =
    spark.read.parquet(dir).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet

  test("pointer protocol: write→flip→read lifecycle, GC keeps previous") {
    import graft.store.Versioned
    val root = fileRoot("ptr")
    val fs = fsOf(root)
    Versioned.rewrite(spark, root, "df")(writeV(_, Seq("a" -> 1L)))
    assert(readV(Versioned.current(spark, root, "df")) == Set(("a", 1L)))
    Versioned.rewrite(spark, root, "df")(writeV(_, Seq("b" -> 2L)))
    Versioned.rewrite(spark, root, "df")(writeV(_, Seq("c" -> 3L)))
    assert(readV(Versioned.current(spark, root, "df")) == Set(("c", 3L)))
    // GC: v2 live, v1 kept for in-flight readers, v0 gone
    assert(fs.exists(new Path(root, "df.v1")))
    assert(!fs.exists(new Path(root, "df.v0")), "v0 must be GCed")
    assert(!fs.exists(new Path(root, "df.CURRENT.tmp")), "tmp swept")
  }

  test("pointer protocol crash sweep: every interrupted step still serves") {
    import graft.store.Versioned
    val root = fileRoot("ptr-crash")
    val fs = fsOf(root)
    Versioned.rewrite(spark, root, "df")(writeV(_, Seq("live" -> 1L)))

    // (a) crash DURING the next version's write: dir exists, no
    // _SUCCESS, pointer untouched → readers on old, commit refused
    val (d1, v1) = Versioned.next(spark, root, "df")
    fs.mkdirs(new Path(d1)); fs.create(new Path(d1, "part-0")).close()
    assert(readV(Versioned.current(spark, root, "df")) == Set(("live", 1L)))
    intercept[IllegalArgumentException](
      Versioned.commit(spark, root, "df", v1))
    // retry clears the torn dir and completes
    val (d1b, v1b) = Versioned.next(spark, root, "df")
    assert(v1b == v1 && !fs.exists(new Path(d1b, "part-0")))
    writeV(d1b, Seq("two" -> 2L))

    // (b) crash AFTER the write, BEFORE the flip: complete but
    // unnamed; the pointer still serves old
    assert(readV(Versioned.current(spark, root, "df")) == Set(("live", 1L)))
    Versioned.commit(spark, root, "df", v1b)
    assert(readV(Versioned.current(spark, root, "df")) == Set(("two", 2L)))

    // (c) crash mid-flip: a leftover tmp never shadows the pointer,
    // and the next commit sweeps it
    val tmp = new Path(root, "df.CURRENT.tmp")
    val out = fs.create(tmp, true); out.write("vGARBAGE".getBytes); out.close()
    assert(readV(Versioned.current(spark, root, "df")) == Set(("two", 2L)))
    Versioned.rewrite(spark, root, "df")(writeV(_, Seq("three" -> 3L)))
    assert(readV(Versioned.current(spark, root, "df")) == Set(("three", 3L)))

    // (d) the delete+rename fallback's gap (pointer absent): readers
    // fall back to the highest COMPLETE version — the same answer
    fs.delete(new Path(root, "df.CURRENT"), false)
    assert(readV(Versioned.current(spark, root, "df")) == Set(("three", 3L)))
    // and the next rewrite re-mints the pointer above the fallback
    Versioned.rewrite(spark, root, "df")(writeV(_, Seq("four" -> 4L)))
    assert(fs.exists(new Path(root, "df.CURRENT")))
    assert(readV(Versioned.current(spark, root, "df")) == Set(("four", 4L)))
  }

  test("uncommitted-but-complete version is never served by the fallback") {
    import graft.store.Versioned
    val root = fileRoot("ptr-uncommitted")
    val fs = fsOf(root)
    Versioned.rewrite(spark, root, "df")(writeV(_, Seq("committed" -> 1L)))
    // crash AFTER the v1 write completed (bytes + _SUCCESS all there)
    // but BEFORE commit: the INPROGRESS marker is still planted
    val (d1, v1) = Versioned.next(spark, root, "df")
    writeV(d1, Seq("never-committed" -> 2L))
    assert(fs.exists(new Path(d1, "_SUCCESS")), "fixture: v1 is complete")
    assert(fs.exists(new Path(root, s"df.v$v1.INPROGRESS")))
    // pointer still serves v0 …
    assert(readV(Versioned.current(spark, root, "df")) == Set(("committed", 1L)))
    // … and so does the pointer-LOSS fallback: without the marker it
    // would wrongly prefer the complete-but-never-committed v1
    fs.delete(new Path(root, "df.CURRENT"), false)
    assert(readV(Versioned.current(spark, root, "df")) == Set(("committed", 1L)))
    // recovery: the next rewrite retakes v1 (clears the crashed bytes),
    // commits, and the marker is gone
    Versioned.rewrite(spark, root, "df")(writeV(_, Seq("recovered" -> 3L)))
    assert(readV(Versioned.current(spark, root, "df")) == Set(("recovered", 3L)))
    assert(Option(fs.globStatus(new Path(root, "df.v*.INPROGRESS")))
      .getOrElse(Array.empty).isEmpty, "committed store carries no markers")
  }
}
