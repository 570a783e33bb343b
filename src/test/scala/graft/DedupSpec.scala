package graft

import org.apache.spark.sql.functions.col

import graft.dedup.Dedup

class DedupSpec extends SparkSpec {
  import spark.implicits._

  // doc 1/2 exact dups; 3 near-dup of 1 (one word changed); 4 unrelated.
  private lazy val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog and runs far away home"),
    (2L, "The quick  brown fox jumps over the lazy dog and runs far away home"),
    (3L, "the quick brown fox jumps over the lazy cat and runs far away home"),
    (4L, "completely different content about spark query engines and shuffles")
  ).toDF("doc_id", "text")

  test("exact dedup groups normalized-identical docs") {
    val groups = docs.groupBy(Dedup.contentKey(col("text")).as("fp"))
      .count().collect().map(_.getLong(1)).sorted.toSeq
    assert(groups == Seq(1L, 1L, 2L))
  }

  test("incremental keepers: each of the four filters fires") {
    def rep(s: String) = (s + " ") * 20
    val old = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, rep("p q r"))
    ).toDF("doc_id", "text")
    // rotations share the exact distinct 3-gram shingle SET (the token
    // stream is periodic), hence the exact minhash signature — near-dup
    // by every band, but a different fingerprint: isolates the
    // band-collision filters from the exact ones
    val batch = Seq(
      (3L, "alpha beta gamma delta epsilon zeta"), // (b) exact dup of old 1
      (6L, rep("q r p")),                          // (c) near-dup of old 2
      (9L, rep("u v w")),                          // kept
      (12L, rep("u v w")),                         // (a) exact dup of 9
      (15L, rep("v w u")),                         // (d) near-dup of 9, higher id
      (18L, "completely unrelated new content about engines")
    ).toDF("doc_id", "text")
    val store = Dedup.signatureStore(old)
    val kept = Dedup.incrementalKeepers(batch, store)
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(9L, 18L))
    // the store is self-contained: round-tripping it through parquet
    // changes nothing
    val p = tempDir("graft-store-spec")
    store.write.mode("overwrite").parquet(p.toString)
    val kept2 = Dedup.incrementalKeepers(batch, spark.read.parquet(p.toString))
      .collect().map(_.getLong(0)).toSet
    assert(kept2 == kept)
  }

  test("store append + compact: chained crawls dedup, file count resets, results unchanged") {
    def rep(s: String) = (s + " ") * 20
    val old = Seq((1L, rep("a b c")), (2L, rep("d e f"))).toDF("doc_id", "text")
    val crawlA = Seq(
      (10L, rep("g h i")),                 // kept, enters the store
      (11L, rep("b c a"))                  // near-dup of old 1 → dropped
    ).toDF("doc_id", "text")
    val crawlB = Seq(
      (20L, rep("h i g")),                 // near-dup of A's keeper 10 → dropped
      (21L, rep("e f d")),                 // near-dup of old 2 → dropped
      (22L, rep("x y z"))                  // kept
    ).toDF("doc_id", "text")
    val p = tempDir("graft-store-compact")
    Dedup.signatureStore(old).write.mode("overwrite").parquet(p.toString)
    def partFiles = new java.io.File(p.toString).listFiles()
      .count(f => f.isFile && f.getName.startsWith("part-"))
    val afterBase = partFiles
    val keptA = Dedup.appendKeepersToStore(spark, crawlA, p.toString)
      .collect().map(_.getLong(0)).toSet
    assert(keptA == Set(10L))
    // the append fragments the store: each crawl adds its own files
    assert(partFiles > afterBase, s"append added no files ($partFiles)")
    val fragKept = Dedup.incrementalKeepers(crawlB,
      spark.read.parquet(p.toString)).collect().map(_.getLong(0)).toSet
    assert(fragKept == Set(22L),
      s"crawl B must see old AND crawl A through the store: $fragKept")
    // compact: one data file, identical dedup results
    val files = Dedup.compactStore(spark, p.toString)
    assert(files == 1 && partFiles == 1, s"compacted to $files/$partFiles")
    val compKept = Dedup.incrementalKeepers(crawlB,
      spark.read.parquet(p.toString)).collect().map(_.getLong(0)).toSet
    assert(compKept == fragKept)
  }

  test("retirement: tombstones free a duplicate; compaction folds them physically") {
    def rep(s: String) = (s + " ") * 20
    val old = Seq((1L, rep("a b c")), (2L, rep("d e f"))).toDF("doc_id", "text")
    val crawl = Seq(
      (10L, rep("a b c")),                 // exact dup of old 1
      (11L, rep("e f d"))                  // near-dup of old 2
    ).toDF("doc_id", "text")
    val p = tempDir("graft-store-retire")
    Dedup.signatureStore(old).write.mode("overwrite").parquet(p.toString)
    // against the full store, both crawl docs drop
    assert(Dedup.incrementalKeepers(crawl,
      Dedup.liveStore(spark.read.parquet(p.toString)))
      .collect().isEmpty)
    // retire doc 1 → its exact dup (10) is keepable again, 11 still drops
    Dedup.retireFromStore(spark, Seq(1L).toDF("doc_id"), p.toString)
    val live = Dedup.liveStore(spark.read.parquet(p.toString))
    assert(live.collect().map(_.getLong(0)).toSet == Set(2L))
    val kept = Dedup.incrementalKeepers(crawl, live)
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(10L), s"retired dup not freed: $kept")
    // compaction folds the tombstone physically: the rewritten file
    // holds only live rows (no id-1 data row, no NULL-fp tombstone)
    // and the dedup answer is unchanged
    Dedup.compactStore(spark, p.toString)
    val raw = spark.read.parquet(p.toString)
    assert(raw.count() == 1 &&
      raw.where(col("fp").isNull).count() == 0 &&
      raw.where(col("id") === 1L).count() == 0)
    assert(Dedup.incrementalKeepers(crawl,
        Dedup.liveStore(raw)).collect().map(_.getLong(0)).toSet
      == Set(10L))
    // append-after-compact closes the loop: the freed keeper enters
    // the store and blocks ITS next duplicate
    val kept2 = Dedup.appendKeepersToStore(spark, crawl, p.toString)
      .collect().map(_.getLong(0)).toSet
    assert(kept2 == Set(10L))
    assert(Dedup.incrementalKeepers(
        Seq((20L, rep("a b c"))).toDF("doc_id", "text"),
        Dedup.liveStore(spark.read.parquet(p.toString)))
      .collect().isEmpty)
  }

  test("compactChunkStore: appended window keys fold to a distinct set") {
    import spark.implicits._
    val p = tempDir("graft-cdc-compact")
    // base store + an appended window that re-adds one existing key
    Seq((1L, 2L), (3L, 4L)).toDF("h1", "h2")
      .write.mode("overwrite").parquet(p.toString)
    Seq((3L, 4L), (5L, 6L)).toDF("h1", "h2")
      .write.mode("append").parquet(p.toString)
    val files = Dedup.compactChunkStore(spark, p.toString)
    val got = spark.read.parquet(p.toString)
      .as[(Long, Long)].collect().toSet
    // distinct-rewrite: the duplicate (3,4) folds; one data file
    assert(got == Set((1L, 2L), (3L, 4L), (5L, 6L)) && files == 1)
  }

  test("compactStore failed swap restores the store intact") {
    import spark.implicits._
    val docs = Seq((1L, "alpha beta gamma delta"), (2L, "epsilon zeta eta"))
      .toDF("doc_id", "text")
    val p = tempDir("graft-store-swapfail")
      .resolve("store")
    Dedup.signatureStore(docs).write.mode("overwrite").parquet(p.toString)
    val before = spark.read.parquet(p.toString).orderBy("id", "fp")
      .collect().toSeq
    // fail the staging → root rename (the second rename of the swap);
    // the move-aside (root → root.compact-old) runs for real
    val ex = intercept[graft.GraftException] {
      Dedup.compactStoreImpl(spark, p.toString, 1,
        (fs, a, b) =>
          if (a.getName.endsWith(".compact-staging")) false
          else fs.rename(a, b))
    }
    assert(ex.getMessage.contains("restored intact"), ex.getMessage)
    // the store survived at its path with identical content...
    assert(spark.read.parquet(p.toString).orderBy("id", "fp")
      .collect().toSeq == before)
    // ...and a subsequent healthy compaction succeeds (the preserved
    // staging dir and the cleared aside dir don't wedge it)
    assert(Dedup.compactStore(spark, p.toString) == 1)
    assert(spark.read.parquet(p.toString).orderBy("id", "fp")
      .collect().toSeq == before)
  }

  test("null-text docs carry no signature and pair with nobody (ADVICE r14)") {
    // the fused kernel is null-in-null-out and explode(array(NULL))
    // EMITS the row — without the signature-level filter, every
    // null-text doc would share the all-null band buckets and pair
    // with every other one (the pre-fusion explode dropped them)
    val d = Seq((1L, "alpha beta gamma delta"), (2L, null),
      (3L, null), (4L, null)).toDF("doc_id", "text")
    assert(Dedup.minhashSignature(d).count() == 1)
    assert(Dedup.minhashCandidates(d).count() == 0)
  }

  test("banding-recall truth cap: a bound shingle flips truth_exact_ok") {
    // 70 docs sharing one shingle push its df past TruthDfCap=64 — the
    // gate's truth set silently becomes informative-shingle Jaccard,
    // which truth_exact_ok must surface as a red gate, not a
    // mis-measured recall
    import org.apache.spark.sql.functions._
    def capOk(d: org.apache.spark.sql.DataFrame): Boolean =
      Dedup.shingleRows(d, rebalance = false)
        .select(col("id"), col("s")).distinct()
        .groupBy(col("s")).agg(count(lit(1)).as("nd"))
        .agg((max(col("nd")) <= lit(Dedup.TruthDfCap.toLong)).as("ok"))
        .head.getBoolean(0)
    val hot = (1L to 70L).map(i => (i, s"common boiler plate w$i"))
      .toDF("doc_id", "text")
    assert(!capOk(hot), "a df-65+ shingle must flip the assertion")
    val cool = (1L to 70L).map(i => (i, s"only mine u$i v$i w$i"))
      .toDF("doc_id", "text")
    assert(capOk(cool))
  }

  test("bloom chunk excision (row 110): per-row map == exact excision when FP-free, never under-excises") {
    import org.apache.spark.sql.functions._
    val d = graft.sources.Sources.table(spark, sf001, "documents")
    val evalDocs = d.where(col("doc_id") % 97 === 0)
    val corpus = d.where(col("doc_id") % 97 =!= 0)
    val pairs = Dedup.bloomEvalPairs(evalDocs).localCheckpoint()
    val m = Dedup.bloomBitsFor(pairs.count())
    val words = Dedup.bloomWordsAgg(pairs, m)
    def keyed(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        r.getString(3))).toMap
    val streamedShape = keyed(Dedup.bloomChunkExcise(corpus, words, m))
    val exact = keyed(Dedup.chunkDecontam(corpus, evalDocs))
    assert(streamedShape.keySet == exact.keySet)
    // no false negatives: the per-row Bloom form can only excise MORE
    streamedShape.foreach { case (id, (nc, kc, _)) =>
      assert(nc == exact(id)._1, s"doc $id chunk count drifted")
      assert(kc <= exact(id)._2, s"doc $id under-excised")
    }
    // and at the 64-bits-per-element sizing it is FP-free here: the
    // two forms agree byte for byte, excised docs included
    assert(streamedShape == exact,
      "measured FP-free: streamed-shape output must equal the exact form")
    assert(streamedShape.values.exists(v => v._2 < v._1),
      "fixture must actually excise something (non-vacuous)")
  }

  test("minhash candidates include both dup pairs, not the unrelated doc") {
    val pairs = Dedup.minhashCandidates(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(pairs.contains((1L, 3L)) || pairs.contains((2L, 3L)))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("jaccard verify: exact dups at 1.0, near-dups high, all ≥ threshold") {
    val verified = Dedup.jaccardVerified(docs)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(verified((1L, 2L)) == 1.0)
    verified.values.foreach(j => assert(j >= 0.6))
  }

  test("simhash: exact dups at hamming 0; near-dups within 6") {
    val pairs = Dedup.simhashPairs(docs)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
    assert(pairs((1L, 2L)) == 0)
    assert(pairs.get((1L, 3L)).forall(_ <= 6))
  }

  test("simhash kernel == explode + per-bit SUM aggregation (r19 fusion)") {
    // the pre-r19 formulation, verbatim: one row per token, 60 SUM
    // columns, majority vote after the aggregate — the kernel must be
    // bit-identical on every doc, and zero-token/NULL docs must emit
    // no row in both forms
    import org.apache.spark.sql.functions._
    val bits = 60
    val hostile = docs.union(Seq(
      (7L, ""), (8L, "   \t\n "), (9L, "one"),
      (10L, null.asInstanceOf[String])
    ).toDF("doc_id", "text"))
    val tok = hostile.repartition(col("doc_id"))
      .select(col("doc_id").as("id"),
        explode(graft.text.Text.tokens(col("text"))).as("t"))
      .select(col("id"), graft.functions.XHash.h60(col("t")).as("h"))
    val bitSums = (0 until bits).map(j =>
      sum(shiftright(col("h"), j).bitwiseAND(lit(1L))).as(s"s$j"))
    val agg = tok.groupBy(col("id"))
      .agg(count(lit(1)).as("n"), bitSums: _*)
      .select(col("id"),
        (0 until bits).map(j =>
          when(col(s"s$j") * 2 > col("n"), lit(1L << j)).otherwise(lit(0L)))
          .reduce(_ + _).as("sim"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val kern = Dedup.simhashTable(hostile)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(kern == agg)
    assert(!kern.contains(7L) && !kern.contains(8L) && !kern.contains(10L))
  }

  test("cdc cuts kernel == interpreted filter-HOF form (r19 fusion)") {
    import org.apache.spark.sql.functions._
    val hostile = docs.union(Seq(
      (7L, ""), (8L, " \t "), (9L, "one"), (10L, "two words"),
      (11L, null.asInstanceOf[String])
    ).toDF("doc_id", "text"))
    val ts = graft.text.Text.tokens(col("text"))
    // the pre-r19 expression, verbatim
    def hofCuts(avg: Int) = {
      val n = size(ts)
      when(n > 1,
        filter(sequence(lit(1), n - 1), p =>
          graft.functions.XHash.h60(concat_ws(" ", element_at(ts, p),
            element_at(ts, p + 1))) % avg === 0))
        .otherwise(array().cast("array<int>"))
    }
    for (avg <- Seq(2, 8)) {
      val both = hostile.select(col("doc_id"),
          hofCuts(avg).as("hof"), Dedup.cdcCuts(ts, avg).as("kern"))
        .collect()
      both.foreach { r =>
        assert(r.getSeq[Int](1) == r.getSeq[Int](2),
          s"doc ${r.getLong(0)} avg=$avg: ${r.getSeq[Int](1)} vs ${r.getSeq[Int](2)}")
      }
    }
  }

  test("clusters: transitive near-dups land in one component, min id wins") {
    // 1-2 exact, 3 near 1, and a 5-6 pair in a separate component;
    // 4 is unrelated (no cluster row at all)
    val six = docs.union(Seq(
      (5L, "an entirely separate block of text about database indexes and storage"),
      (6L, "an entirely separate block of text about database indexes and disk storage")
    ).toDF("doc_id", "text"))
    val cl = Dedup.clusters(six)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cl.get(1L).contains(1L) && cl.get(2L).contains(1L))
    // 3 is a near-dup of 1 (one word changed) — same component
    assert(cl.get(3L).contains(1L))
    assert(cl.get(5L).contains(5L) && cl.get(6L).contains(5L))
    assert(!cl.contains(4L))
  }

  test("bucketStats sizes the banding; maxBucket skips oversized buckets") {
    val stats = Dedup.bucketStats(docs).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    // every doc lands in every band exactly once
    stats.groupBy(_._1).foreach { case (_, rows) =>
      assert(rows.map(r => r._2 * r._3).sum == 4)
    }
    // docs 1/2 are exact dups → at least one bucket of size >= 2
    assert(stats.exists(_._2 >= 2))
    // cap of 1 forbids all pair generation (every pair bucket is >= 2)
    assert(Dedup.minhashCandidates(docs, maxBucket = Some(1)).count() == 0)
    // a generous cap changes nothing
    assert(Dedup.minhashCandidates(docs, maxBucket = Some(1000))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Dedup.minhashCandidates(docs)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
  }

  test("degenerate bucket: heavy self-join path == array path, full recall") {
    // 60 identical docs + 1 unrelated: every band collapses the dups into
    // one bucket of 60. With heavyBucket below that, pairs stream through
    // the sort-merge self-join; with it above, through the collect_set
    // array. Both must produce exactly C(60,2) ordered pairs — the heavy
    // path bounds memory without discarding recall (unlike maxBucket).
    val many = (1L to 60L).map(i =>
      (i, "same exact duplicated text repeated across every single document here"))
    val degenerate = (many :+
      (99L, "totally unrelated filler about compilers and garbage collection"))
      .toDF("doc_id", "text")
    val expected = (for {
      a <- 1L to 60L; b <- (a + 1) to 60L
    } yield (a, b)).toSet
    val viaJoin = Dedup.minhashCandidates(degenerate, heavyBucket = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val viaArray = Dedup.minhashCandidates(degenerate, heavyBucket = 100000)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaJoin == expected)
    assert(viaArray == expected)
    // simhash shares the helper: identical docs pair at hamming 0
    val sim = Dedup.simhashPairs(degenerate, heavyBucket = 10)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
    assert(sim.keySet == expected)
    assert(sim.values.forall(_ == 0))
  }

  test("decontamination flags exactly the docs sharing an eval n-gram") {
    val eval = Seq(
      (100L, "the capital of france is paris obviously")
    ).toDF("doc_id", "text")
    val corpus = Seq(
      // contains the eval 3-gram "capital of france"
      (1L, "quiz answer the capital of france is paris end"),
      // shares words but no 3-gram
      (2L, "france has a capital city with museums"),
      (3L, "completely unrelated text about compilers")
    ).toDF("doc_id", "text")
    val hit = Dedup.contaminatedIds(corpus, eval)
      .collect().map(_.getLong(0)).toSet
    assert(hit == Set(1L))
  }

  test("bloom decontam: flagged ⊇ exact, exact_hit marks the true hits") {
    val eval = Seq(
      (100L, "the capital of france is paris obviously")
    ).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "quiz answer the capital of france is paris end"),
      (2L, "france has a capital city with museums"),
      (3L, "completely unrelated text about compilers")
    ).toDF("doc_id", "text")
    val out = Dedup.bloomDecontam(corpus, eval)
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    // every exact hit is flagged with exact_hit=true (no false negatives)
    assert(out.get(1L).contains(true))
    // nothing non-flagged claims exact_hit
    assert(out.filter(_._2).keySet == Set(1L))
  }

  test("bloom probe column == driver-side bit test, FPs possible and visible") {
    // a deliberately tiny filter (m = 2^14 floor, 8 pairs) so false
    // positives are reachable; probe 4000 candidate strings and compare
    // the codegen'd column against the driver-side word/bit arithmetic
    val m = Dedup.bloomBitsFor(8)
    assert(m == (1 << 14))
    def hashPair(s: String): (Long, Long) = {
      val a = graft.functions.Md5PairUtil.pair(s.getBytes("UTF-8"))
      (a.getLong(0), a.getLong(1))
    }
    val evalPairs = (0 until 8).map(i => hashPair(s"eval shingle $i")).toArray
    val words = Dedup.bloomWords(evalPairs, m)
    def driverTest(h1: Long, h2: Long): Boolean =
      (0 until Dedup.BloomK).forall { i =>
        val p = (graft.functions.XHash.memberLong(h1, h2, i) % m).toInt
        (words(p >>> 6) & (1L << (p & 63))) != 0L
      }
    val cands = spark.range(0, 4000)
      .selectExpr("concat('cand ', id) AS s")
      .select(graft.functions.XHash.h60(col("s")).as("h1"),
        graft.functions.XHash.h56(col("s")).as("h2"))
    val sparkHits = cands
      .where(Dedup.bloomMightContain(words, m)(col("h1"), col("h2")))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val driverHits = cands.collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .filter { case (h1, h2) => driverTest(h1, h2) }.toSet
    assert(sparkHits == driverHits)
    // the filter must hit every true member…
    assert(evalPairs.forall { case (h1, h2) => driverTest(h1, h2) })
    // …and at 32 set bits vs 4000×4 probes, collisions occur: the FP
    // machinery is genuinely exercised (4000·(32/16384)^4 ≈ 0 for
    // all-4, so assert on ANY single-probe collision instead)
    val anyBitHit = cands.collect().map(r => (r.getLong(0), r.getLong(1)))
      .exists { case (h1, h2) =>
        (0 until Dedup.BloomK).exists { i =>
          val p = (graft.functions.XHash.memberLong(h1, h2, i) % m).toInt
          (words(p >>> 6) & (1L << (p & 63))) != 0L
        }
      }
    assert(anyBitHit)
  }

  test("bloomBitsFor: power-of-two, 64× target, clamped both ends") {
    assert(Dedup.bloomBitsFor(0) == (1 << 14))
    assert(Dedup.bloomBitsFor(256) == (1 << 14))   // 64·256 = 2^14 exactly
    assert(Dedup.bloomBitsFor(257) == (1 << 15))   // just past the boundary
    assert(Dedup.bloomBitsFor(1L << 40) == (1 << 24)) // cap
  }

  test("shared-span fraction: copied spans score, fresh text scores 0") {
    val span = "alpha beta gamma delta epsilon zeta eta theta"
    val d = Seq(
      (1L, s"intro words here $span closing words"),       // 13 tokens
      (2L, s"totally different head $span and another tail"), // 13 tokens
      (3L, "no shared content in this sentence at all today truly")
    ).toDF("doc_id", "text")
    val r = Dedup.sharedSpanFrac(d, n = 8)
      .collect().map(x => x.getLong(0) -> (x.getLong(1), x.getDouble(2)))
      .toMap
    // doc1: 13 tokens → 6 slots; doc2: 14 → 7. The 8-token span yields
    // exactly one shared slot per doc (its surroundings differ)
    assert(r(1L)._1 == 6L && math.abs(r(1L)._2 - 1.0 / 6.0) < 1e-12)
    assert(r(2L)._1 == 7L && math.abs(r(2L)._2 - 1.0 / 7.0) < 1e-12)
    assert(r(3L)._2 == 0.0)
    // full-copy docs saturate to 1.0
    val copies = Seq(
      (1L, span + " " + span), (2L, span + " " + span)
    ).toDF("doc_id", "text")
    Dedup.sharedSpanFrac(copies, n = 8).collect()
      .foreach(x => assert(x.getDouble(2) == 1.0))
  }

  test("shared spans: maximal hot runs with token ranges, gaps split") {
    val d = Seq(
      // docs 1 and 2 share the 4-token phrase "x y z w" → hot 3-grams
      // "x y z" and "y z w"; everything else is unique
      (1L, "a b c x y z w q"),       // covered slots {3,4}
      (2L, "m n x y z w o p"),       // covered slots {2,3}
      (3L, "x y z w 1 2 3 4 5 x y z w") // two runs: {0,1} and {9,10}
    ).toDF("doc_id", "text")
    val spans = Dedup.sharedSpans(d, n = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(spans == Set(
      (1L, 3L, 6L, 2L),
      (2L, 2L, 5L, 2L),
      (3L, 0L, 3L, 2L), (3L, 9L, 12L, 2L)))
  }

  test("shingles of short docs fall back to whole text") {
    val sh = Seq((1L, "two words")).toDF("doc_id", "text")
      .select(Dedup.shingles(col("text")).as("sh"))
      .collect().head.getSeq[String](0)
    assert(sh == Seq("two words"))
  }

  test("chunk dedup: first occurrence wins, docs reassemble in order") {
    val d = Seq(
      (1L, "a b c d e f"),       // both chunks first occurrences
      (2L, "a b c x y z"),       // chunk0 dups doc1's chunk0
      (3L, "d e f d e f"),       // both chunks dup doc1's chunk1 → empty
      (4L, "p q r p q r p")      // within-doc dup at idx1; short tail kept
    ).toDF("doc_id", "text")
    val out = Dedup.chunkDedup(d, width = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3))).toSet
    assert(out == Set(
      (1L, 2L, 2L, "a b c d e f"),
      (2L, 2L, 1L, "x y z"),
      (3L, 2L, 0L, ""),
      (4L, 3L, 2L, "p q r p")))
  }

  test("incremental chunk dedup: store chunks shadow, batch elects rest") {
    val old = Seq((1L, "a b c d e f")).toDF("doc_id", "text")
    val store = Dedup.chunkStore(old, width = 3)
    val batch = Seq(
      (10L, "a b c x y z"),   // chunk0 in store → dropped; chunk1 kept
      (20L, "x y z x y z")    // chunk0 loses to doc10's; chunk1 within-dup
    ).toDF("doc_id", "text")
    val out = Dedup.chunkDedupIncremental(batch, store, width = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3))).toSet
    assert(out == Set(
      (10L, 2L, 1L, "x y z"),
      (20L, 2L, 0L, "")))
    // store round-trips through parquet unchanged
    val p = tempDir("graft-chunkstore-spec")
    store.write.mode("overwrite").parquet(p.toString)
    val out2 = Dedup.chunkDedupIncremental(batch,
      spark.read.parquet(p.toString), width = 3)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(out2 == Set((10L, 1L), (20L, 0L)))
  }

  test("CDC chunking (row 115): a one-token shift defeats fixed chunks; CDC still dedups the span") {
    // one 80-token span embedded at offset 2 in doc 1 and offset 1 in
    // doc 2 — the C4-boilerplate-shifted-by-a-token case (Lee et al.
    // 2022). All tokens distinct, so any chunk equality is the span
    // repeating, never an accident.
    val span = (1 to 80).map(i => s"s$i").mkString(" ")
    val d = Seq(
      (1L, s"alpha beta $span gamma"),
      (2L, s"zeta $span omega")).toDF("doc_id", "text")
    // the gap, demonstrated: fixed 8-token windows re-align on the
    // shift, every chunk text of doc 2 is new, NOTHING dedups
    val fx = Dedup.chunkDedup(d).where(col("doc_id") === 2L).head
    assert(fx.getLong(1) === fx.getLong(2),
      "fixed chunking should keep all of the shifted doc — that gap is why CDC exists")
    // CDC: interior cuts depend only on span-internal bigrams, so the
    // span's interior chunks hash-collide across the two offsets and
    // doc 2 (higher id) loses them to doc 1's election
    val cd = Dedup.cdcChunkDedup(d).where(col("doc_id") === 2L).head
    assert(cd.getLong(2) < cd.getLong(1),
      "CDC must drop at least one interior chunk of the shifted span")
    // the incremental twin catches the same shift against a persisted
    // store (the crawl shape: old snapshot's boilerplate arrives at a
    // new offset inside a fresh page)
    val store = Dedup.cdcChunkStore(d.where(col("doc_id") === 1L))
    val inc = Dedup.cdcChunkDedupIncremental(
      d.where(col("doc_id") === 2L), store).head
    assert(inc.getLong(2) < inc.getLong(1),
      "incremental CDC must drop stored interior chunks at the new offset")
  }

  test("CDC chunks partition the token stream; empty doc yields no chunks") {
    import org.apache.spark.sql.functions.{array_join, expr}
    val d = Seq((1L, "  The   quick brown fox JUMPS over the lazy dog  "),
      (2L, ""), (3L, "one"), (4L, (1 to 200).map(i => s"w${i % 13}").mkString(" ")))
      .toDF("doc_id", "text")
    // boundaries only PARTITION — rejoining the chunk array restores
    // the normalized token stream byte for byte, for every doc
    val rows = d.select(col("doc_id"),
      array_join(Dedup.cdcChunksArr(graft.text.Text.tokens(col("text"))),
        " ").as("rejoined"),
      expr("array_join(split(trim(lower(text)), '\\\\s+'), ' ')").as("norm"))
    assert(rows.where(col("rejoined") =!= col("norm")).count() == 0)
    // '' tokenizes to ZERO tokens → no chunks, no output row (the
    // FuzzCorpus zero-token contract; exact dedup still covers empties)
    assert(Dedup.cdcChunkDedup(d.where(col("doc_id") === 2L)).count() == 0)
  }

  test("Admission.probeRows(cdc) kind-2 rows == cdcChunkHashRows (the row-115 stream wiring)") {
    val d = Seq((1L, "a b c d e f g h i j k l m n o p q r s t"),
      (2L, "")).toDF("doc_id", "text")
    val probe = graft.streaming.Admission
      .probeRows(d, cdc = true, kinds = Set(2))
      .select(col("doc_id"), col("idx"), col("chunk"),
        col("k1"), col("k2"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2),
        r.getString(3), r.getString(4))).toSet
    val batch = Dedup.cdcChunkHashRows(d, "doc_id", "text",
        Dedup.CdcAvgWidth)
      .select(col("doc_id"), col("idx"), col("chunk"),
        col("h1").cast("string"), col("h2").cast("string"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2),
        r.getString(3), r.getString(4))).toSet
    assert(probe == batch)
  }

  test("chunk dedup: chunk multiset is preserved across the edit") {
    // every distinct chunk text survives exactly once corpus-wide
    val d = Seq(
      (10L, "a b c a b c x"), (20L, "a b c"), (30L, "x y")
    ).toDF("doc_id", "text")
    val kept = Dedup.chunkDedup(d, width = 3)
      .agg(org.apache.spark.sql.functions.sum(col("kept_chunks")))
      .collect().head.getLong(0)
    // distinct chunks: "a b c", "x", "x y" → 3 survivors
    assert(kept == 3L)
  }

  test("MinHashSig native expression == batch min-aggregated signature, " +
      "bit for bit") {
    // the streaming admission path carries each document's signature as
    // ONE native per-row expression; the batch path min-aggregates
    // member columns over exploded shingle rows — same multiset, same
    // (h1 + i·h2) & mask arithmetic, so they must agree exactly on
    // real data (duplicate shingles included)
    val docs = graft.sources.Sources.table(spark, sf001, "documents")
      .limit(200)
    val k = 16
    val batch = Dedup.minhashSignature(docs, k = k)
    val native = docs.select(col("doc_id").as("id"),
      org.apache.spark.sql.graft.bridge.column(
        graft.functions.MinHashSig(
          org.apache.spark.sql.graft.bridge.expression(
            Dedup.shingles(col("text"))), k)).as("sig"))
    val mismatches = batch.join(native, Seq("id"))
      .where((0 until k).map(i =>
          col(s"m$i") =!=
            org.apache.spark.sql.functions.element_at(col("sig"), i + 1))
        .reduce(_ || _))
      .count()
    assert(mismatches == 0, s"$mismatches docs with drifted signatures")
    assert(batch.count() == 200)
  }

  test("ShingleMinHashSig (fused shingling) == MinHashSig over the " +
      "shingle HOF, bit for bit, edges included") {
    import org.apache.spark.sql.functions.{col => c, element_at}
    import spark.implicits._
    val k = 16
    def both(df: org.apache.spark.sql.DataFrame) = df.select(
      org.apache.spark.sql.graft.bridge.column(
        graft.functions.MinHashSig(
          org.apache.spark.sql.graft.bridge.expression(
            Dedup.shingles(c("text"))), k)).as("a"),
      org.apache.spark.sql.graft.bridge.column(
        graft.functions.ShingleMinHashSig(
          org.apache.spark.sql.graft.bridge.expression(
            graft.text.Text.tokens(c("text"))), Dedup.ShingleN, k))
        .as("b"))
    // real corpus
    val drift = both(graft.sources.Sources.table(spark, sf001, "documents"))
      .where((1 to k).map(i =>
        element_at(c("a"), i) =!= element_at(c("b"), i)).reduce(_ || _))
      .count()
    assert(drift == 0, s"$drift docs drifted")
    // edges: empty, short (< n tokens), exactly n, multi-space,
    // leading/trailing space, unicode
    val edges = Seq("", "one", "one two", "one two three",
      "a  b   c d", "  padded  ", "naïve café über tokens")
      .toDF("text")
    val rows = both(edges).collect()
    rows.foreach(r => assert(r.getSeq[Long](0) == r.getSeq[Long](1),
      s"edge drifted: $r"))
  }

  test("ShingleWindows (fused generator) == exploded slice+concat_ws, " +
      "slots and edges included") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val n = Dedup.ShingleN
    val edges = Seq((9001L, ""), (9002L, "one"), (9003L, "one two"),
      (9004L, "one two three"), (9005L, "a  b   c d"),
      (9006L, "  padded  "), (9007L, "naïve café über tokens west"))
      .toDF("doc_id", "text")
    val docs = graft.sources.Sources.table(spark, sf001, "documents")
      .select(col("doc_id"), col("text")).limit(300)
      .unionByName(edges)
    // the pre-fusion formulation, rebuilt verbatim: explode slot
    // indices, then a codegen'd slice+concat_ws per row
    val toks = graft.text.Text.tokens(col("text"))
    val old = docs
      .select(col("doc_id").as("id"), toks.as("toks"))
      // zero-token docs emit no windows (the kernel's FuzzCorpus
      // contract) — the reference form must skip them too
      .where(size(col("toks")) > 0)
      .select(col("id"), col("toks"),
        explode(sequence(lit(0),
          greatest(size(col("toks")) - n, lit(0)))).as("i"))
      .select(col("id"), col("i"),
        when(size(col("toks")) < n, concat_ws(" ", col("toks")))
          .otherwise(concat_ws(" ", slice(col("toks"), col("i") + 1, lit(n))))
          .as("s_old"))
    val fused = Dedup.shingleRows(docs, n = n, rebalance = false)
    // same (id, i) key set, same shingle string at every slot
    assert(old.count() == fused.count())
    val drift = old.join(fused, old("id") === fused("id") &&
        old("i") === fused("i"), "full_outer")
      .where(old("s_old").isNull || fused("s").isNull ||
        old("s_old") =!= fused("s"))
      .count()
    assert(drift == 0, s"$drift slots drifted from the slice+concat form")
    // and shingles() == the old HOF transform+array_distinct form
    // (with the zero-token arm yielding the EMPTY set — the FuzzCorpus
    // contract: an empty doc has nothing to shingle)
    val hof = when(size(toks) === 0, array().cast("array<string>"))
      .when(size(toks) < n, array(concat_ws(" ", toks)))
      .otherwise(array_distinct(transform(sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", slice(toks, i + lit(1), lit(n))))))
    val setDrift = docs.select(Dedup.shingles(col("text"), n).as("a"),
        hof.as("b"))
      .where(col("a") =!= col("b")).count()
    assert(setDrift == 0, "shingles() drifted from the HOF form")
  }

  test("measured banding recall (row 106): shipped geometry catches the " +
      "ground truth; a degraded split of the same budget fails the floor") {
    import org.apache.spark.sql.functions._
    val d = graft.sources.Sources.table(spark, sf001, "documents")
    val truth = Dedup.exactNearDupPairs(d)
      .select(col("doc_a"), col("doc_b")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truth.nonEmpty, "fixture must contain true near-dup pairs")
    def caughtBy(bands: Int, rows: Int): Int = {
      val cand = Dedup.minhashCandidates(d, bands = bands,
          rowsPerBand = rows).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      truth.count(cand.contains)
    }
    val floor = Dedup.MinBandingRecallPerMille
    // the shipped (8, 2) geometry clears the measured floor …
    val shipped = caughtBy(Dedup.Bands, Dedup.RowsPerBand)
    assert(shipped * 1000 >= floor * truth.size,
      s"shipped geometry caught $shipped of ${truth.size}")
    // … and the (1, 16) split of the SAME k=16 budget — which the
    // S-curve spec already rejects on paper — fails it EMPIRICALLY
    // too: the gate measures the curve, not just replays hashing.
    // (The fixture's truth Jaccards sit near 0.97, where even (2, 8)
    // still detects ~95% — the single-band arm is the one this truth
    // population can falsify: 0.97^16 ≈ 0.61.)
    val degraded = caughtBy(1, 16)
    assert(degraded * 1000 < floor * truth.size,
      s"degraded geometry caught $degraded of ${truth.size} — " +
        "the floor no longer binds")
  }

  test("LSH band geometry derives from the declared S-curve contract") {
    import Dedup._
    def ok(b: Int, r: Int): Boolean =
      bandDetectP(MinJaccard, b, r) >= MinDetectAtVerify &&
        bandDetectP(NoiseJaccard, b, r) <= MaxDetectAtNoise
    // the shipped geometry meets both declared bounds
    assert(ok(Bands, RowsPerBand))
    // …and the bounds BIND: one band fewer loses the detection floor,
    // one row fewer floods the verifier past the noise ceiling
    assert(bandDetectP(MinJaccard, Bands - 1, RowsPerBand)
      < MinDetectAtVerify)
    assert(bandDetectP(NoiseJaccard, Bands * 2, RowsPerBand - 1)
      > MaxDetectAtNoise)
    // cheapest: NO geometry with a smaller member budget k = b·r
    // satisfies the contract (k is what every signature pays for)
    val budget = Bands * RowsPerBand
    val cheaper = for {
      r <- 1 to 8; b <- 1 to 32 if b * r < budget
    } yield (b, r)
    assert(cheaper.forall { case (b, r) => !ok(b, r) },
      "a cheaper geometry satisfying the contract exists — re-derive")
    // unique: of the k = 16 budget's splits, only (8, 2) passes
    val splits = Seq(1, 2, 4, 8, 16).map(r => (budget / r, r))
    assert(splits.filter { case (b, r) => ok(b, r) } == Seq((Bands, RowsPerBand)))
  }

  test("chunk decontam (row 105): straddling leakage kills both chunks, " +
      "flagged docs == the doc-level decision, excision is surgical") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // width=8: tokens w0..w7 are chunk 0, w8.. chunk 1. The eval
    // 3-gram (w7 w8 w9) STRADDLES the boundary; a per-chunk shingler
    // never sees it.
    val train = Seq((1L, (0 to 15).map(i => s"w$i").mkString(" ")),
      (2L, "clean words only here nothing shared at all"))
      .toDF("doc_id", "text")
    val eval0 = Seq((97L, "w7 w8 w9")).toDF("doc_id", "text")
    val out = Dedup.chunkDecontam(train, eval0).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3)))
      .toMap
    // doc 1: both straddled chunks gone (2 of 2), doc 2 untouched
    assert(out(1L) == ((2L, 0L, "")),
      s"straddling leakage must kill both chunks: ${out(1L)}")
    assert(out(2L)._1 == out(2L)._2 && out(2L)._3.nonEmpty)
    // the blind alternative (shingling each chunk separately) finds NO
    // contaminated chunk here — the fixture proves the un-chunked
    // matching is load-bearing
    val perChunk = Dedup.chunkDecontam(
      train.where(col("doc_id") === 1L)
        .select(col("doc_id"),
          // chunk 0 text only: the straddler's left half
          concat_ws(" ", slice(graft.text.Text.tokens(col("text")), 1, 8))
            .as("text")),
      eval0).collect()
    assert(perChunk.head.getLong(2) == perChunk.head.getLong(1),
      "a chunk-local view must NOT flag (no full shingle fits inside)")
    // corpus agreement: a doc loses ≥1 chunk here iff the doc-level
    // decontam flags it (same shingle membership decides both)
    val d = graft.sources.Sources.table(spark, sf001, "documents")
    val trainD = d.where(col("doc_id") % 97 =!= 0)
    val evalD = d.where(col("doc_id") % 97 === 0)
    val trimmed = Dedup.chunkDecontam(trainD, evalD)
      .where(col("kept_chunks") < col("n_chunks"))
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val flagged = Dedup.contaminatedIds(trainD, evalD)
      .collect().map(_.getLong(0)).toSet
    assert(trimmed == flagged)
    // …and the excision is SURGICAL: most flagged docs keep most of
    // their chunks (the row's point vs dropping whole docs)
    val partial = Dedup.chunkDecontam(trainD, evalD)
      .where(col("kept_chunks") < col("n_chunks") && col("kept_chunks") > 0)
      .count()
    assert(partial > 0 && partial * 2 >= trimmed.size,
      s"excision should usually keep part of a doc: $partial of ${trimmed.size}")
  }

  test("distributed Bloom build (bit_or agg) == driver build, bit for bit") {
    import org.apache.spark.sql.functions._
    val eval = graft.sources.Sources.table(spark, sf001, "documents")
      .where(col("doc_id") % 7 === 0)
    val pairsDf = Dedup.bloomEvalPairs(eval).localCheckpoint()
    val pairs = pairsDf.collect().map(r => (r.getLong(0), r.getLong(1)))
    val m = Dedup.bloomBitsFor(pairs.length.toLong)
    assert(Dedup.bloomBitsFor(pairsDf.count()) == m)
    val driver = Dedup.bloomWords(pairs, m)
    val agg = Dedup.bloomWordsAgg(pairsDf, m)
    assert(driver.length == agg.length)
    val drift = driver.indices.count(i => driver(i) != agg(i))
    assert(drift == 0, s"$drift of ${driver.length} words drifted")
    // non-vacuous: the filter is neither empty nor saturated
    val ones = agg.map(java.lang.Long.bitCount).sum
    assert(ones > 0 && ones < m, s"degenerate filter: $ones of $m bits")
  }

  test("quality-aware canonical election: argmax replayed, member of " +
      "its cluster, decision non-vacuous both ways") {
    import org.apache.spark.sql.functions.{col => c, expr}
    val d = graft.sources.Sources.table(spark, sf001, "documents")
    val members = Dedup.clusters(d).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val byCluster = members.groupBy(_._2)
    val qkey = graft.text.Text.qualityModelRaw(d)
      .select(c("doc_id"),
        expr(graft.text.Text.qmKeyExpr).as("k"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // row: cluster_id, n_members, canonical_id, minid_id, differs
    val out = Registry.queries("dedup_canonical")(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getBoolean(4)))
    assert(out.nonEmpty && out.length == byCluster.size)
    out.foreach { r =>
      val ids = byCluster(r._1).map(_._1)
      assert(ids.contains(r._3), s"canonical not in cluster ${r._1}")
      assert(r._2 == ids.length && r._4 == ids.min)
      // the election is the (qkey desc, id asc) argmax, replayed
      val best = ids.minBy(id => (-qkey(id), id))
      assert(r._3 == best, s"cluster ${r._1}: ${r._3} != replayed $best")
      assert(r._5 == (r._3 != r._4))
    }
    // the quality election must actually change SOME decision, and the
    // min-id baseline must also survive somewhere (both arms real)
    assert(out.exists(_._5), "vacuous: quality argmax == min id always")
    assert(out.exists(!_._5), "suspicious: min id never optimal")
  }

  // ---- per-document verify: the SetJaccard kernel and the plan it
  // replaced ----

  /** The Jaccard formula the kernel replaced, verbatim. */
  private def oldJaccard(a: org.apache.spark.sql.Column,
      b: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    size(array_intersect(a, b)).cast("double") /
      greatest(size(array_union(a, b)), lit(1)).cast("double")
  }

  test("SetJaccard == size(array_intersect)/greatest(size(array_union),1), " +
      "codegen and interpreted, on unsorted, duplicate, empty and null input") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types._
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val strs = ArrayType(StringType, containsNull = true)
    val elem: Gen[String] = Gen.frequency(
      8 -> Gen.oneOf("a", "b", "c", "ab", "a b", "", "naïve", "Zz"),
      1 -> Gen.const(null))
    val arr: Gen[Seq[String]] = Gen.frequency(
      6 -> Gen.listOf(elem),                                  // any order, dups, nulls
      3 -> Gen.someOf("a", "b", "c", "ab", "a b", "naïve").map(_.toSeq.sorted),
      1 -> Gen.const(Seq.empty[String]),
      1 -> Gen.const(null))
    val batch = Gen.listOfN(40, Gen.zip(arr, arr))
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(25),
      Prop.forAll(batch) { pairs =>
        val rows = pairs.zipWithIndex.map { case ((a, b), i) => Row(i, a, b) }
        val df = spark.createDataFrame(java.util.Arrays.asList(rows: _*),
            StructType(Seq(StructField("i", IntegerType),
              StructField("a", strs), StructField("b", strs))))
          // past the local relation, so the projection is generated code
          // rather than folded by the optimizer
          .repartition(2)
          .select(col("i"), Dedup.jaccard(col("a"), col("b")).as("kern"),
            oldJaccard(col("a"), col("b")).as("old"))
        val got = df.collect().map(r => r.getInt(0) ->
          (Option(r.get(1)), Option(r.get(2)))).toMap
        pairs.indices.forall { i =>
          val (a, b) = pairs(i)
          val interp = graft.functions.SetJaccard(Literal.create(a, strs),
            Literal.create(b, strs)).eval()
          val (kern, old) = got(i)
          val ok = kern == old && Option(interp) == old
          if (!ok) println(s"SetJaccard drift on $a vs $b: kern=$kern interp=$interp old=$old")
          ok
        }
      })
    assert(res.passed, res.status.toString)
  }

  /** The hostile edge corpus: NULL text, empty and whitespace-only docs,
    * docs shorter than n tokens, case and spacing copies, duplicates —
    * next to real documents. */
  private lazy val edgeCorpus = {
    import spark.implicits._
    val edges = Seq(
      (90001L, null.asInstanceOf[String]), (90002L, null.asInstanceOf[String]),
      (90003L, ""), (90004L, ""), (90005L, " \t\n "), (90006L, "   "),
      (90007L, "one"), (90008L, "ONE"), (90009L, "one two"),
      (90010L, "One  Two"), (90011L, "one two three"),
      (90012L, "one two three"), (90013L, "a b a b a b a b"),
      (90014L, "b a b a b a b a"), (90015L, "naïve café über tokens"),
      (90016L, "Naïve  café über tokens"))
      .toDF("doc_id", "text")
    graft.sources.Sources.table(spark, sf001, "documents")
      .select(col("doc_id"), col("text")).unionByName(edges)
  }

  /** The verify plan before the per-document kernels, verbatim: one row
    * per shingle, 16 hash-member columns, `groupBy(id)` with
    * `collect_set` and 16 `min`s, and the array_intersect/array_union
    * Jaccard. */
  private def oldJaccardVerified(d: org.apache.spark.sql.DataFrame,
      minJaccard: Double): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    import graft.functions.XHash
    import graft.plans.Lineage.LineageOps
    val k = 16
    val rows = Dedup.shingleRows(d)
      .select(col("id"), col("s"),
        XHash.h60(col("s")).as("h1"), XHash.h56(col("s")).as("h2"))
    val members = rows.select(col("id") +: col("s") +: (0 until k).map(i =>
      XHash.member(col("h1"), col("h2"), i).as(s"h$i")): _*)
    val sh = members.groupBy(col("id"))
      .agg(collect_set(col("s")).as("sh"),
        (0 until k).map(i => min(col(s"h$i")).as(s"m$i")): _*).lineageCut
    Dedup.candidatesOfSignature(
      sh.select(col("id") +: (0 until k).map(i => col(s"m$i")): _*), 8, 2)
      .join(sh.as("sa"), col("doc_a") === col("sa.id"))
      .join(sh.as("sb"), col("doc_b") === col("sb.id"))
      .select(col("doc_a"), col("doc_b"),
        oldJaccard(col("sa.sh"), col("sb.sh")).as("jaccard"))
      .where(col("jaccard") >= minJaccard)
  }

  private def triples(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(t => (t._1, t._2)).toSeq

  test("jaccardVerified == the explode/collect_set plan it replaced, " +
      "edge corpus, at minJaccard 0.6 and 0.0") {
    for (mj <- Seq(0.6, 0.0)) {
      val got = triples(Dedup.jaccardVerified(edgeCorpus, minJaccard = mj))
      val want = triples(oldJaccardVerified(edgeCorpus, mj))
      assert(got == want, s"minJaccard=$mj: ${got.diff(want).take(5)} vs " +
        s"${want.diff(got).take(5)}")
      // non-vacuous: exact copies, near-dups and (at 0.0) weak pairs
      assert(got.exists(_._3 == 1.0) && got.exists(t => t._3 < 1.0))
    }
  }

  test("every verified pair is a minhashCandidates pair; no zero-shingle " +
      "doc is in any") {
    val cands = Dedup.minhashCandidates(edgeCorpus).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val all = triples(Dedup.jaccardVerified(edgeCorpus, minJaccard = 0.0))
      .map(t => (t._1, t._2)).toSet
    assert(all == cands, s"${(all -- cands).take(5)} / ${(cands -- all).take(5)}")
    val kept = triples(Dedup.jaccardVerified(edgeCorpus)).map(t => (t._1, t._2))
    assert(kept.nonEmpty && kept.forall(cands))
    val noShingle = (90001L to 90006L).toSet
    assert(!all.exists(p => noShingle(p._1) || noShingle(p._2)))
  }
}
