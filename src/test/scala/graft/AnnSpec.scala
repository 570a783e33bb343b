package graft

import org.apache.spark.sql.functions.col

import graft.ann.Ann

class AnnSpec extends SparkSpec {
  import spark.implicits._

  private lazy val vecs = Seq(
    (0L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
    (1L, Array(0.9f, -0.1f, 0.0f, 0.0f)),
    (2L, Array(0.0f, 1.0f, 0.0f, 0.0f)),
    (3L, Array(-1.0f, 0.0f, 0.0f, 0.0f))
  ).toDF("vec_id", "embedding")

  test("cosine: identical=1, orthogonal=0, opposite=-1") {
    val c = vecs.as("a").join(vecs.as("b"))
      .select(col("a.vec_id"), col("b.vec_id"),
        Ann.cosine(col("a.embedding"), col("b.embedding")).as("cos"))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(math.abs(c((0L, 0L)) - 1.0) < 1e-12)
    assert(math.abs(c((0L, 2L))) < 1e-12)
    assert(math.abs(c((0L, 3L)) + 1.0) < 1e-12)
  }

  test("brute-force top-k orders by cosine desc with id tie-break") {
    val q = vecs.where(col("vec_id") === 0L)
    val top = Ann.bruteForceTopK(vecs, q, 3)
      .collect().map(_.getLong(0)).toSeq
    assert(top == Seq(0L, 1L, 2L))
  }

  test("lsh top-k searches only the query's sign bucket") {
    val q = vecs.where(col("vec_id") === 0L)
    val ids = Ann.lshTopK(vecs, q, 10, bits = 2)
      .collect().map(_.getLong(0)).toSet
    // bucket key = signs of dims 0,1: doc3 (-1,0) and doc2 (0,1) differ
    assert(ids.contains(0L) && ids.contains(1L))
    assert(!ids.contains(3L))
  }

  test("IVF over a persisted assignment equals the one-shot path") {
    val emb = graft.sources.Sources.table(spark, sf001, "embeddings")
    val q = emb.orderBy(org.apache.spark.sql.functions.col("vec_id")).limit(1)
    val oneShot = Ann.ivfTopK(emb, q, 10).collect().map(_.toSeq).toSeq
    // persist the cell assignment (what a production pipeline stores
    // bucketed by cell), then search it
    val dir = tempDir("graft-ivf").toString
    val centroids = Ann.ivfCentroids(emb)
    Ann.ivfAssign(emb, centroids).write.mode("overwrite")
      .partitionBy("cell").parquet(dir)
    val persisted = Ann.ivfTopKAssigned(
      spark.read.parquet(dir), centroids, q, 10)
      .collect().map(_.toSeq).toSeq
    assert(persisted == oneShot && oneShot.size == 10)
  }

  test("filtered IVF: attributes ride the assignment; full probe == exact slice") {
    val emb = graft.sources.Sources.table(spark, sf001, "embeddings")
    val q = emb.orderBy(col("vec_id")).limit(1)
    val centroids = Ann.ivfCentroids(emb)
    val assigned = Ann.ivfAssign(emb, centroids, keep = Seq("label"))
    // the attribute carry is exact: every assignment row holds its
    // corpus row's label (first() over the per-id group is safe — the
    // group is one row wide before the centroid cross join)
    assert(assigned.join(
      emb.select(col("vec_id").as("id"), col("label").as("expect")), "id")
      .where(col("label") =!= col("expect")).count() == 0)
    // probing every cell, the filtered search IS the exact answer over
    // the label slice
    val servedAll = Ann.ivfTopKAssigned(assigned.where(col("label") === 3),
        centroids, q, 10, nprobe = 1 << 20)
      .collect().map(_.getLong(0)).toSet
    val exact = Ann.bruteForceTopK(emb.where(col("label") === 3), q, 10)
      .collect().map(_.getLong(0)).toSet
    assert(servedAll == exact && exact.size == 10)
    // the ADAPTIVE switch (r18, found by a seed-3 FuzzCorpus sweep):
    // a slice at or below the threshold routes to the exact pre-filter
    // branch — identical to brute force over the slice, by definition
    val tiny = Ann.filteredTopK(emb,
      col("label") === 3 && col("vec_id") % 4 === 3,
      col("label") === 3 && col("id") % 4 === 3,
      Seq("label"), q, 10, exactThreshold = 20L)
      .collect().map(_.getLong(0)).toSet
    val tinyExact = Ann.bruteForceTopK(
      emb.where(col("label") === 3 && col("vec_id") % 4 === 3), q, 10)
      .collect().map(_.getLong(0)).toSet
    assert(tiny == tinyExact && tiny.nonEmpty,
      "a tiny slice must take the exact pre-filter branch")
    // …and a slice above it takes the IVF arm (same results as the
    // direct post-filter call with the same geometry)
    val big = Ann.filteredTopK(emb, col("label") === 3,
      col("label") === 3, Seq("label"), q, 10, exactThreshold = 20L)
      .collect().map(_.getLong(0)).toSet
    val bigDirect = Ann.ivfTopKAssigned(assigned.where(col("label") === 3),
        centroids, q, 10)
      .collect().map(_.getLong(0)).toSet
    assert(big == bigDirect, "a big slice must take the IVF arm")
    // with real pruning, everything served still carries the label
    val slice = emb.where(col("label") === 3)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val pruned = Ann.ivfTopKAssigned(assigned.where(col("label") === 3),
        centroids, q, 10, nprobe = 4)
      .collect().map(_.getLong(0))
    assert(pruned.nonEmpty && pruned.forall(slice))
    // an absent label is an empty result, not a failure
    assert(Ann.ivfTopKAssigned(assigned.where(col("label") === -1),
      centroids, q, 10, nprobe = 4).count() == 0)
  }

  test("composed IVF+PQ: k results, candidates within probed cells, useful recall") {
    val emb = graft.sources.Sources.table(spark, sf001, "embeddings")
    val q = emb.orderBy(org.apache.spark.sql.functions.col("vec_id")).limit(1)
    val got = Ann.ivfpqTopK(emb, q, 10).collect()
    assert(got.length == 10)
    // deterministic: a second run returns the identical rows
    val again = Ann.ivfpqTopK(emb, q, 10).collect()
    assert(got.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq)
    // the composed path should agree with IVF-exact (same probed cells,
    // PQ-approximated scores) on most of the top-10 — PQ with m=4
    // subspaces is lossy, so require overlap, not equality
    val ivf = Ann.ivfTopK(emb, q, 10).collect().map(_.getLong(0)).toSet
    val ids = got.map(_.getLong(0)).toSet
    assert((ivf & ids).size >= 5, s"recall too low vs IVF-exact: $ivf vs $ids")
  }

  test("IVF+PQ over a persisted cell-partitioned code table: equal results, partitions pruned") {
    val emb = graft.sources.Sources.table(spark, sf001, "embeddings")
    val q = emb.orderBy(org.apache.spark.sql.functions.col("vec_id")).limit(1)
    val centroids = Ann.ivfCentroids(emb)
    val cb = Ann.pqCodebooks(emb)
    val inline = Ann.ivfpqTopK(emb, q, 10).collect().map(_.toSeq).toSeq
    val dir = tempDir("graft-ivfpq").toString
    // the production layout: codes partitioned by cell, corpus retired
    Ann.ivfpqEncode(emb, centroids, cb).write.mode("overwrite")
      .partitionBy("cell").parquet(dir)
    val search = Ann.ivfpqTopKEncoded(
      spark.read.parquet(dir), centroids, cb, q, 10)
    assert(search.collect().map(_.toSeq).toSeq == inline && inline.size == 10)
    // the literal cell list must reach the partitioned scan as a static
    // partition filter — un-probed cells' files are never opened
    val plan = search.queryExecution.executedPlan.toString.toLowerCase
    assert(plan.contains("partitionfilters: [cell") && plan.contains(" in ("),
      s"no static partition pruning on the code table:\n${plan.take(1500)}")
  }

  test("int8 quantized top-k: values in range, high recall vs exact") {
    val emb = graft.sources.Sources.table(spark, sf001, "embeddings")
    val q = emb.orderBy(org.apache.spark.sql.functions.col("vec_id")).limit(1)
    // quantized values stay in [-127, 127]
    val qvals = emb.select(org.apache.spark.sql.functions.explode(
      Ann.quantize8(org.apache.spark.sql.functions.col("embedding"))))
      .collect().map(_.getByte(0).toInt)
    assert(qvals.forall(v => v >= -127 && v <= 127))
    assert(qvals.exists(v => math.abs(v) == 127), "scale should hit full range")
    val exact = Ann.bruteForceTopK(emb, q, 10).collect().map(_.getLong(0)).toSet
    val quant = Ann.quantizedTopK(emb, q, 10).collect().map(_.getLong(0)).toSet
    assert((exact & quant).size >= 8, s"recall too low: $exact vs $quant")
  }

  test("native quantize8 matches the HOF formulation element for element") {
    val emb = graft.sources.Sources.table(spark, sf001, "embeddings")
    val diff = emb.select(
        Ann.quantize8(org.apache.spark.sql.functions.col("embedding")).as("a"),
        Ann.quantize8Hof(org.apache.spark.sql.functions.col("embedding")).as("b"))
      .where(org.apache.spark.sql.functions.col("a") =!=
        org.apache.spark.sql.functions.col("b"))
      .count()
    assert(diff == 0)
  }

  test("knn join: per-id ranked neighbors, self excluded, at most k") {
    val emb = graft.sources.Sources.table(spark, sf001, "embeddings")
    val knn = Ann.knnJoin(emb, emb, 3).collect()
    val byId = knn.groupBy(_.getLong(0))
    byId.foreach { case (lid, rows) =>
      assert(rows.length <= 3)
      assert(!rows.exists(_.getLong(1) == lid), "self must be excluded")
      val ranked = rows.sortBy(_.getInt(3))
      assert(ranked.map(_.getInt(3)).toSeq == (1 to rows.length))
      // cos non-increasing with rank
      val cs = ranked.map(_.getDouble(2))
      assert(cs.zip(cs.tail).forall { case (a, b) => a >= b })
    }
    assert(byId.nonEmpty)
  }

  test("adaptive knn probing: full home buckets skip the hamming-1 explode") {
    import spark.implicits._
    // two 10-row groups in buckets 3 and 1 (hamming distance 1): every
    // row's home bucket holds 9 ≥ k rivals, so the adaptive path never
    // probes — candidates are exactly the in-bucket pairs — while the
    // unconditional path adds all 200 cross-bucket probe pairs
    val emb = ((1 to 10).map(i => (i.toLong, Array(1.0f, 1.0f + 0.01f * i))) ++
      (11 to 20).map(i => (i.toLong, Array(1.0f, -1.0f - 0.01f * i))))
      .toDF("vec_id", "embedding")
    val adaptive = Ann.knnCandidates(emb, emb, 3,
      "vec_id", "embedding", bits = 4, fullProbe = false).count()
    val full = Ann.knnCandidates(emb, emb, 3,
      "vec_id", "embedding", bits = 4, fullProbe = true).count()
    assert(adaptive == 2 * 10 * 9, s"expected home pairs only, got $adaptive")
    assert(full == adaptive + 2 * 10 * 10)
    // and underfilled rows DO probe: k above the group size pulls the
    // cross-bucket neighbors in
    val knn = Ann.knnJoin(emb, emb, 12, bits = 4).collect()
    assert(knn.groupBy(_.getLong(0)).forall(_._2.length == 12),
      "underfilled homes must fill from hamming-1 buckets")
  }

  test("lloyd refinement: deterministic, means move centroids, recall holds") {
    val emb = graft.sources.Sources.table(spark, sf001, "embeddings")
    val q = emb.orderBy(org.apache.spark.sql.functions.col("vec_id")).limit(1)
    val c0 = Ann.ivfCentroids(emb)
    val c1 = Ann.ivfRefine(emb, c0)
    // same cells, same count — only the positions move
    assert(c1.count() == c0.count())
    assert(c1.select("cid").collect().map(_.getLong(0)).toSet ==
      c0.select("cid").collect().map(_.getLong(0)).toSet)
    // deterministic across runs
    val again = Ann.ivfRefine(emb, c0).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val once = c1.collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(once.keySet == again.keySet &&
      once.forall { case (k, v) =>
        v.zip(again(k)).forall { case (a, b) => math.abs(a - b) < 1e-12 } })
    // refined search still returns k results with the query on top
    val ids = Ann.ivfTopKAssigned(Ann.ivfAssign(emb, c1), c1, q, 10)
      .collect().map(_.getLong(0)).toSeq
    assert(ids.size == 10 && ids.head == 0L)
  }

  test("product quantization: tiny codes, deterministic, useful recall") {
    val emb = graft.sources.Sources.table(spark, sf001, "embeddings")
    val q = emb.orderBy(org.apache.spark.sql.functions.col("vec_id")).limit(1)
    val cb = Ann.pqCodebooks(emb)
    // m×~k broadcastable codebook rows, 16-dim sub-vectors over dim 64
    val cbRows = cb.collect()
    assert(cbRows.map(_.getInt(0)).toSet == Set(0, 1, 2, 3))
    assert(cbRows.forall(_.getSeq[Double](2).length == 16))
    // every vector encodes to one code per subspace, codes ∈ codebook
    val enc = Ann.pqEncode(emb, cb)
    val n = emb.count()
    assert(enc.count() == n * 4)
    val cids = cbRows.map(_.getLong(1)).toSet
    assert(enc.collect().forall(r => cids.contains(r.getLong(2))))
    // deterministic end to end
    val run1 = Ann.pqTopK(emb, q, 10).collect().map(_.getLong(0)).toSeq
    val run2 = Ann.pqTopK(emb, q, 10).collect().map(_.getLong(0)).toSeq
    assert(run1 == run2 && run1.size == 10)
    // ADC is a coarse approximation with untrained sampled codebooks
    // (exactness of the computation itself is the ann_pq oracle's job):
    // the query vector must still surface and some exact top-10 overlap
    // must survive the compression
    val exact = Ann.bruteForceTopK(emb, q, 10).collect().map(_.getLong(0)).toSet
    assert(run1.contains(0L))
    assert((run1.toSet & exact).size >= 1, s"pq recall: $run1 vs $exact")
  }

  test("pq lloyd: refined codebooks keep shape, tighten quantization error") {
    val emb = graft.sources.Sources.table(spark, sf001, "embeddings")
    val cb0 = Ann.pqCodebooks(emb)
    val cb1 = Ann.pqRefine(emb, cb0)
    // same (sub, cid) key set, same sub-vector width
    def keys(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getInt(0), r.getLong(1))).toSet
    assert(keys(cb1) == keys(cb0))
    assert(cb1.collect().forall(_.getSeq[Double](2).length == 16))
    // refinement tightens (never worsens) the mean quantization error:
    // Lloyd's monotonicity — each point's distance to its NEW centroid
    // is <= its distance to the old one
    def meanDist(cb: org.apache.spark.sql.DataFrame): Double = {
      import org.apache.spark.sql.functions._
      val enc = Ann.pqEncode(emb, cb)
      val dsub = 16
      val subs = Ann.withNormalized(emb, "embedding", "vn")
        .select(col("vec_id").as("id"), col("vn"))
        .select(col("id"), explode(array((0 until 4).map(s =>
          struct(lit(s).as("sub"), slice(col("vn"), s * dsub + 1, dsub)
            .as("sv"))): _*)).as("b"))
        .select(col("id"), col("b.sub").as("sub"), col("b.sv").as("sv"))
      subs.join(enc, Seq("id", "sub"))
        .join(cb.withColumnRenamed("sub", "csub"),
          col("sub") === col("csub") && col("code") === col("cid"))
        .select(avg(Ann.dot(col("sv"), col("sv"))
          + Ann.dot(col("cv"), col("cv"))
          - lit(2.0) * Ann.dot(col("sv"), col("cv"))).as("d"))
        .head.getDouble(0)
    }
    val d0 = meanDist(cb0)
    val d1 = meanDist(cb1)
    assert(d1 <= d0 + 1e-9, s"refinement worsened quantization: $d0 -> $d1")
    // end-to-end lloyd search stays deterministic and returns k rows
    val q = emb.orderBy(org.apache.spark.sql.functions.col("vec_id")).limit(1)
    val ids = Ann.pqTopK(emb, q, 10, lloyd = 1).collect().map(_.getLong(0))
    assert(ids.length == 10 && ids.toSet.size == 10)
  }

  test("bucketBitsFor scales bits with corpus size, clamped") {
    // tiny corpora stay at the floor
    assert(Ann.bucketBitsFor(0) == 4)
    assert(Ann.bucketBitsFor(10000) == 4)
    // ceil(log2(n/4096)): 1M rows → 256 buckets of ~4k
    assert(Ann.bucketBitsFor(1L << 20) == 8)
    assert(Ann.bucketBitsFor(1000000000L) == 16)
    // never past the ceiling (and a custom ceiling caps at the dim)
    assert(Ann.bucketBitsFor(Long.MaxValue) == 16)
    assert(Ann.bucketBitsFor(1L << 40, maxBits = 8) == 8)
    // exact powers don't over-allocate: 2^k buckets need exactly k bits
    assert(Ann.bucketBitsFor(4096 * 32) == 5)
    // derived default == explicit bits at the derived value
    val emb = graft.sources.Sources.table(spark, sf001, "embeddings")
    val derivedBits = Ann.bucketBitsFor(emb.count())
    val viaDefault = Ann.knnJoin(emb, emb, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    val viaExplicit = Ann.knnJoin(emb, emb, 3, bits = derivedBits)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    assert(viaDefault == viaExplicit)
  }

  test("chained Lloyd refinement: deterministic, cohesion improves") {
    // the API supports chaining refinements (each call = one Lloyd
    // iteration); measure what iterations buy on the fixed test data
    val emb = graft.sources.Sources.table(spark, sf001, "embeddings")
    import org.apache.spark.sql.functions.{avg, col}
    val c0 = Ann.ivfCentroids(emb)
    val c1 = Ann.ivfRefine(emb, c0)
    val c2 = Ann.ivfRefine(emb, c1)
    // replaying the whole chain reproduces it bit-for-bit (rounded-grid
    // means — the determinism the SQL oracle relies on)
    val c2b = Ann.ivfRefine(emb, Ann.ivfRefine(emb, Ann.ivfCentroids(emb)))
    assert(c2.orderBy("cid").collect().toSeq ==
      c2b.orderBy("cid").collect().toSeq)
    // cohesion = mean dot(vector, its assigned centroid): the k-means
    // objective each Lloyd step locally optimizes
    def cohesion(c: org.apache.spark.sql.DataFrame): Double =
      Ann.ivfAssign(emb, c)
        .join(c.withColumnRenamed("cid", "cell"), "cell")
        .select(avg(Ann.dot(col("vn"), col("cv"))))
        .collect().head.getDouble(0)
    val (k0, k1, k2) = (cohesion(c0), cohesion(c1), cohesion(c2))
    info(f"cohesion: sampled=$k0%.4f 1-iter=$k1%.4f 2-iter=$k2%.4f")
    assert(k1 > k0, s"one Lloyd step should improve cohesion: $k0 -> $k1")
    assert(k2 >= k1 - 1e-6, s"second step should not regress: $k1 -> $k2")
  }

  test("chained PQ refinement: quantization error non-increasing") {
    // L2 subspaces: plain means ARE the Lloyd update (no normalization,
    // unlike the spherical IVF case) — each chained pqRefine must not
    // increase the mean squared sub-vector quantization error
    val emb = graft.sources.Sources.table(spark, sf001, "embeddings")
    import org.apache.spark.sql.functions.{array, avg, broadcast, explode, lit, min, size, slice, struct}
    val dim = emb.select(size(col("embedding"))).head.getInt(0)
    val dsub = dim / 4
    val subs = Ann.withNormalized(emb, "embedding", "vn")
      .select(col("vec_id").as("id"), col("vn"))
      .select(col("id"), explode(array((0 until 4).map(s =>
        struct(lit(s).as("sub"),
          slice(col("vn"), s * dsub + 1, dsub).as("sv"))): _*)).as("b"))
      .select(col("id"), col("b.sub").as("sub"), col("b.sv").as("sv"))
    def err(cb: org.apache.spark.sql.DataFrame): Double =
      subs.join(broadcast(cb), "sub")
        .withColumn("dist",
          Ann.dot(col("sv"), col("sv")) + Ann.dot(col("cv"), col("cv"))
            - lit(2.0) * Ann.dot(col("sv"), col("cv")))
        .groupBy(col("id"), col("sub")).agg(min(col("dist")).as("d"))
        .agg(avg(col("d"))).collect().head.getDouble(0)
    val cb0 = Ann.pqCodebooks(emb)
    val cb1 = Ann.pqRefine(emb, cb0)
    val cb2 = Ann.pqRefine(emb, cb1)
    val (e0, e1, e2) = (err(cb0), err(cb1), err(cb2))
    info(f"pq sq-error: sampled=$e0%.6f 1-iter=$e1%.6f 2-iter=$e2%.6f")
    // 1e-5 slack: means round to a 1e-6 grid, which can perturb the
    // exact-Lloyd monotonicity by O(grid)
    assert(e1 <= e0 + 1e-5, s"first refinement regressed: $e0 -> $e1")
    assert(e2 <= e1 + 1e-5, s"second refinement regressed: $e1 -> $e2")
  }

  test("cosine near-dup pairs: only the close pair survives the threshold") {
    val pairs = Ann.cosinePairs(vecs, minCos = 0.9, bits = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((0L, 1L)))
  }

  test("cosine pairs: a skewed sign bucket takes the heavy regime, same answer") {
    // 60 vectors sharing a dominant direction pile into ONE sign bucket —
    // the skew shape that melts a single task under a plain self-join.
    // With heavyBucket below the pile the pair stage must route through
    // the sort-merge regime and still produce the identical pair set.
    val n = 60
    val skewed = (0 until n).map { i =>
      (i.toLong, Array(1.0f, 0.001f * i, 0.5f, 0.25f))
    }.toDF("vec_id", "embedding")
    def collect(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1),
        math.rint(r.getDouble(2) * 1e9) / 1e9)).toSet
    val small = collect(
      Ann.cosinePairs(skewed, minCos = 0.999, bits = 2, heavyBucket = 10000))
    val heavy = collect(
      Ann.cosinePairs(skewed, minCos = 0.999, bits = 2, heavyBucket = 8))
    assert(heavy == small && small.nonEmpty)
    // and the heavy plan really is the join regime (incremental pair
    // stream), not one giant collect_set array per bucket — at corpus
    // scale the sides exceed the broadcast threshold and this joins
    // sort-merge; at test scale Catalyst may broadcast, which is still
    // the join regime
    val planned = Ann.cosinePairs(skewed, minCos = 0.999, bits = 2,
      heavyBucket = 8).queryExecution.sparkPlan.toString
    assert(planned.contains("Join"), planned.take(1500))
    assert(!planned.contains("collect_set") ||
      planned.contains("Join"), planned.take(1500))
    // maxBucket is the explicit recall-for-boundedness cap: the whole
    // pile sits in one bucket, so capping below it drops every pair
    val capped = Ann.cosinePairs(skewed, minCos = 0.999, bits = 2,
      maxBucket = Some(10)).count()
    assert(capped == 0L)
  }

  test("embedBucketStats: histogram sums to the corpus size") {
    val stats = Ann.embedBucketStats(vecs, bits = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(stats.map { case (sz, cnt) => sz * cnt }.sum == 4L)
  }

  test("nlistFromCount recovers the intended power-of-two nlist from a sampled count") {
    // exact at every real nlist
    for (k <- 4 to 16) assert(Ann.nlistFromCount(1L << k) == (1 << k))
    // sampling wobble within ±√2× rounds home — the boundary case the
    // derived-nprobe sites hit (a 31-centroid table must mean nlist=32)
    assert(Ann.nlistFromCount(31) == 32)
    assert(Ann.nlistFromCount(33) == 32)
    assert(Ann.nlistFromCount(1400) == 1024)  // 1024·√2 ≈ 1448 splits
    assert(Ann.nlistFromCount(1449) == 2048)
    // clamps
    assert(Ann.nlistFromCount(3) == 16)
    assert(Ann.nlistFromCount(1L << 40) == 65536)
    // derived nprobe is now boundary-stable: counts just under a
    // power of two give the same nprobe as the intended nlist
    assert(Ann.nprobeFor(Ann.nlistFromCount(511)) == Ann.nprobeFor(512))
  }

  test("batch IVF+PQ serving: per-query identity with the single-query path") {
    import org.apache.spark.sql.functions._
    val emb = graft.sources.Sources.table(spark, sf001, "embeddings")
    val n = emb.count()
    val nl = Ann.nlistFor(n)
    val np = Ann.nprobeFor(nl)
    val mod = Some(math.max(1L, n / nl))
    val centroids = Ann.ivfCentroids(emb, nlist = nl, modulus = mod)
    val cb = Ann.pqCodebooks(emb, modulus = Some(math.max(1L, n / 16)))
    val dir = tempDir("graft-ivfpq-b").toString
    Ann.ivfpqEncode(emb, centroids, cb).write.mode("overwrite")
      .partitionBy("cell").parquet(dir)
    val codes = spark.read.parquet(dir)
    val queries = emb.orderBy(col("vec_id")).limit(4)
      .select(col("vec_id").as("qid"), col("embedding"))
    val batch = Ann.ivfpqTopKEncodedBatch(codes, centroids, cb, queries, 10,
        nprobe = np)
      .collect().groupBy(_.getLong(0))
      .map { case (q, rs) => q -> rs.sortBy(r => (-r.getDouble(2),
        r.getLong(1))).map(r => (r.getLong(1), r.getDouble(2))).toSeq }
    assert(batch.keySet.size == 4)
    // Ann.scala's contract: per-query results IDENTICAL to the
    // single-query serving path at the same geometry — same cells, same
    // codes, same fixed-order sums, same ranking, bit for bit
    for (qid <- batch.keySet) {
      val single = Ann.ivfpqTopKEncoded(codes, centroids, cb,
          emb.where(col("vec_id") === qid), 10, nprobe = np)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(batch(qid) == single,
        s"qid=$qid batch ${batch(qid)} != single $single")
      assert(single.size == 10)
    }
  }

  test("batch LSH: per-query identity with the single-query path") {
    import org.apache.spark.sql.functions._
    val emb = graft.sources.Sources.table(spark, sf001, "embeddings")
    val queries = emb.orderBy(col("vec_id")).limit(4)
      .select(col("vec_id").as("qid"), col("embedding"))
    val batch = Ann.lshTopKBatch(emb, queries, 10)
      .collect().groupBy(_.getLong(0))
      .map { case (q, rs) => q -> rs.sortBy(r => (-r.getDouble(2),
        r.getLong(1))).map(r => (r.getLong(1), r.getDouble(2))).toSeq }
    assert(batch.keySet.size == 4)
    for (qid <- batch.keySet) {
      val single = Ann.lshTopK(emb, emb.where(col("vec_id") === qid), 10)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(batch(qid) == single,
        s"qid=$qid batch ${batch(qid)} != single $single")
    }
  }

  test("semanticDedup keeps the lowest id of every identical group") {
    import org.apache.spark.sql.functions._
    // 4 orthogonal directions x 3 identical copies (ids interleaved):
    // copies always share a cell (identical vectors assign identically)
    // at cos=1, cross-group cos=0 — so exactly the lowest id of each
    // group survives, independent of which rows the centroid sample picks
    val dirs = Seq(Array(1f, 0f, 0f, 0f), Array(0f, 1f, 0f, 0f),
      Array(0f, 0f, 1f, 0f), Array(0f, 0f, 0f, 1f))
    val corpus = (0L until 12L).map(i => (i, dirs((i % 4).toInt)))
      .toDF("vec_id", "embedding")
    val kept = Ann.semanticDedup(corpus, minCos = 0.35,
        modulus = Some(1)).collect().map(_.getLong(0)).toSet
    assert(kept == Set(0L, 1L, 2L, 3L))
  }

  test("boundedCellLayout: fat cell splits, balanced cells one file, search identical") {
    import org.apache.spark.sql.functions._
    // 4 orthogonal centroids; one cell gets 900 duplicate vectors (the
    // skew a duplicate-heavy corpus produces), three get 50 each
    val corpus = ((1000L until 1900L).map(i => (i, Array(1f, 0f, 0f, 0f)))
      ++ (0L until 50L).map(i => (i, Array(0f, 1f, 0f, 0f)))
      ++ (100L until 150L).map(i => (i, Array(0f, 0f, 1f, 0f)))
      ++ (200L until 250L).map(i => (i, Array(0f, 0f, 0f, 1f)))
      ).toDF("vec_id", "embedding")
    val centroids = Seq(
      (0L, Array(1f, 0f, 0f, 0f)), (1L, Array(0f, 1f, 0f, 0f)),
      (2L, Array(0f, 0f, 1f, 0f)), (3L, Array(0f, 0f, 0f, 1f))
    ).toDF("cid", "cv")
    val cb = Ann.pqCodebooks(corpus, modulus = Some(64))
    val enc = Ann.ivfpqEncode(corpus, centroids, cb).localCheckpoint()
    val base = tempDir("graft-skew").toString
    enc.write.mode("overwrite").partitionBy("cell").parquet(s"$base/bare")
    // fat cell holds 900×m=3600 code rows; targetRows=512 → splits=8
    Ann.boundedCellLayout(enc, targetRows = 512)
      .write.mode("overwrite").partitionBy("cell").parquet(s"$base/guarded")
    def files(cell: Long) = {
      val d = new java.io.File(s"$base/guarded/cell=$cell")
      d.listFiles().count(_.getName.endsWith(".parquet"))
    }
    assert(files(0L) >= 2 && files(0L) <= 8,
      s"fat cell should fan out into 2..8 files, got ${files(0L)}")
    for (c <- 1L to 3L)
      assert(files(c) == 1, s"balanced cell $c should be one file, got ${files(c)}")
    // layout is invisible to the search: identical rows, identical top-k
    val g = spark.read.parquet(s"$base/guarded")
    val b = spark.read.parquet(s"$base/bare")
    assert(g.collect().map(_.toSeq).sortBy(_.toString).toSeq
      == b.collect().map(_.toSeq).sortBy(_.toString).toSeq)
    val q = corpus.where(col("vec_id") === 0L)
    val got = Ann.ivfpqTopKEncoded(g, centroids, cb, q, 5, nprobe = 2)
      .collect().map(_.toSeq).toSeq
    val want = Ann.ivfpqTopKEncoded(b, centroids, cb, q, 5, nprobe = 2)
      .collect().map(_.toSeq).toSeq
    assert(got == want && got.size == 5)
  }

  test("incremental append to the persisted codes == full rebuild, bit for bit") {
    import org.apache.spark.sql.functions._
    // a corpus whose old slice (id % 3 != 0) trains the frozen halves;
    // the new batch (id % 3 == 0) arrives later. Clustered directions
    // with deterministic jitter so cells are non-trivial.
    val dirs = Seq(Array(1f, 0f, 0f, 0f), Array(0f, 1f, 0f, 0f),
      Array(0f, 0f, 1f, 0f), Array(0f, 0f, 0f, 1f))
    val corpus = (0L until 120L).map { i =>
      val d = dirs((i % 4).toInt)
      (i, d.zipWithIndex.map { case (x, j) =>
        x + 0.01f * (((i * 7 + j * 3) % 5) - 2) })
    }.toDF("vec_id", "embedding")
    val old = corpus.where(col("vec_id") % 3 =!= 0)
    val fresh = corpus.where(col("vec_id") % 3 === 0)
    val centroids = Ann.ivfCentroids(old, nlist = 4, modulus = Some(20L))
      .localCheckpoint()
    val cb = Ann.pqCodebooks(old, modulus = Some(5L)).localCheckpoint()
    val base = tempDir("graft-inc").toString
    // the incremental lifecycle: old codes written, then the new batch
    // encoded against the persisted halves and APPENDED per cell
    centroids.write.parquet(s"$base/centroids")
    cb.write.parquet(s"$base/codebooks")
    Ann.boundedCellLayout(Ann.ivfpqEncode(old, centroids, cb))
      .write.mode("overwrite").partitionBy("cell").parquet(s"$base/codes")
    Ann.boundedCellLayout(Ann.ivfpqEncode(fresh,
        spark.read.parquet(s"$base/centroids"),
        spark.read.parquet(s"$base/codebooks")))
      .write.mode("append").partitionBy("cell").parquet(s"$base/codes")
    // the rebuild: everything encoded in one pass, same frozen halves
    val rebuilt = Ann.ivfpqEncode(corpus, centroids, cb)
    val appended = spark.read.parquet(s"$base/codes")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("id"), col("cell"), col("sub"), col("code"))
        .collect().map(_.toSeq).sortBy(_.toString).toSeq
    assert(rows(appended) == rows(rebuilt),
      "appended code table must equal the full re-encode")
    // and the search can't tell them apart
    val q = corpus.where(col("vec_id") === 0L)
    val a = Ann.ivfpqTopKEncoded(appended, centroids, cb, q, 5, nprobe = 2)
      .collect().map(_.toSeq).toSeq
    val r = Ann.ivfpqTopKEncoded(rebuilt, centroids, cb, q, 5, nprobe = 2)
      .collect().map(_.toSeq).toSeq
    assert(a == r && a.size == 5)
  }

  test("OPQ rotation is orthonormal: norms and pairwise dots preserved") {
    import org.apache.spark.sql.functions.{abs, max}
    val e = graft.sources.Sources.table(spark, sf001, "embeddings")
    val re = graft.ann.Opq.rotated(e)
    val both = e.select(col("vec_id"), col("embedding").as("orig"))
      .join(re.select(col("vec_id"), col("embedding").as("rot")), "vec_id")
    val normDrift = both
      .select(max(abs(Ann.norm(col("orig")) - Ann.norm(col("rot")))
        / Ann.norm(col("orig"))))
      .head.getDouble(0)
    assert(normDrift < 1e-12, s"norm drift $normDrift")
    // dots between DISTINCT vectors preserved too (norms alone would
    // pass for any diagonal scaling)
    val a = both.orderBy(col("vec_id")).limit(2).collect()
    def arr(row: org.apache.spark.sql.Row, i: Int): Seq[Double] =
      row.getSeq[Any](i).map {
        case f: Float => f.toDouble
        case d: Double => d
      }
    val dOrig = arr(a(0), 1).zip(arr(a(1), 1)).map { case (x, y) => x * y }.sum
    val dRot = arr(a(0), 2).zip(arr(a(1), 2)).map { case (x, y) => x * y }.sum
    assert(math.abs(dOrig - dRot) / math.max(math.abs(dOrig), 1e-9) < 1e-10,
      s"dot drift: $dOrig vs $dRot")
  }

  test("native OpqRotate is BIT-identical to the composed-HOF twin") {
    // the fused doGenCode expression replaced six interpreted
    // transform stages (§6.6); the retained HOF formulation is the
    // reference — every double must match to the BIT (doubleToLongBits,
    // so a -0.0/+0.0 or NaN fork fails where SQL == would not)
    val e = graft.sources.Sources.table(spark, sf001, "embeddings")
    def bits(df: org.apache.spark.sql.DataFrame): Map[Long, Seq[Long]] =
      df.select(col("vec_id"), col("embedding")).collect()
        .map(r => r.getLong(0) -> r.getSeq[Double](1)
          .map(java.lang.Double.doubleToLongBits)).toMap
    val native = bits(graft.ann.Opq.rotated(e))
    val hof = bits(graft.ann.Opq.rotatedHof(e))
    assert(native.keySet == hof.keySet && native.nonEmpty)
    for ((id, v) <- native)
      assert(v == hof(id), s"vec $id forked between native and HOF")
  }

  test("rotated PQ: recall within the plain-PQ noise band, never collapsed") {
    // the synthetic corpus is ISOTROPIC, so the rotation cannot help
    // (it exists for variance concentrated in few dims) — the honest
    // claim to pin is "recall-neutral and non-collapsed": summed over
    // four queries, rotated recall sits within a small band of plain
    val e = graft.sources.Sources.table(spark, sf001, "embeddings")
    val re = graft.ann.Opq.rotated(e)
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.getLong(0)).toSet
    val qids = e.orderBy(col("vec_id")).limit(4)
      .collect().map(_.getLong(0))
    var totPlain = 0; var totRot = 0
    for (qid <- qids) {
      val q = e.where(col("vec_id") === qid)
      val rq = re.where(col("vec_id") === qid)
      val exact = ids(Ann.bruteForceTopK(e, q, 10))
      totPlain += (ids(Ann.pqTopK(e, q, 10)) & exact).size
      totRot += (ids(Ann.pqTopK(re, rq, 10)) & exact).size
    }
    info(s"recall@10 over 4 queries: plain $totPlain/40, rotated $totRot/40")
    assert(totRot >= totPlain - 4, s"rotated $totRot vs plain $totPlain")
    assert(totRot >= 8, s"rotated recall collapsed: $totRot/40")
  }

  test("THEOREM PIN: H·D is exactly inert for axis-aligned variance " +
      "(rotated PQ top-k == plain PQ top-k on a projection fixture)") {
    // any subset of Hadamard columns is orthogonal-scaled, so each
    // subspace block A_s of the rotation restricted to an axis-aligned
    // subspace has AᵀₛAₛ = I/m: every subspace's sampled-code argmin
    // elects the SAME latent sample and the ADC score telescopes back
    // to the plain dot — rotated PQ cannot be distinguished from plain
    // PQ by ANY ranking metric on such data. This is why the rotation's
    // quality gate pins variance balance, not recall.
    import org.apache.spark.sql.functions.{transform, when, lit}
    val e = graft.sources.Sources.table(spark, sf001, "embeddings")
    // pure projection fixture: keep dims 0-15 (exactly PQ subspace 0),
    // zero the rest — the extreme of axis-aligned concentration
    val proj = e.withColumn("embedding",
      transform(col("embedding"), (x, i) =>
        when(i < lit(16), x.cast("double")).otherwise(lit(0.0))))
    assert(proj.where(Ann.norm(col("embedding")) === 0.0).count() == 0,
      "fixture degenerate: zero-norm vectors")
    val mod = Some(math.max(1L, e.count() / 16))
    def qb(c: org.apache.spark.sql.DataFrame) =
      c.orderBy(col("vec_id")).limit(4)
        .select(col("vec_id").as("qid"), col("embedding"))
    def tops(c: org.apache.spark.sql.DataFrame) =
      Ann.pqTopKBatch(c, qb(c), 10, modulus = mod)
        .select(col("qid"), col("vec_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    val rproj = graft.ann.Opq.rotated(proj)
    assert(tops(proj) == tops(rproj),
      "rotated PQ must return the identical top-k on axis-aligned data")
  }

  test("rotation-balance gate: fixture adversarial, rotation balances, " +
      "a no-op rotation would fail") {
    val e = graft.sources.Sources.table(spark, sf001, "embeddings")
    val rows = AnnQueries.rotatedBalance(e).collect()
    assert(rows.length == 4)
    assert(rows.forall(_.getAs[Boolean]("balance_ok")))
    val maxPlain = rows.map(_.getAs[Long]("plain_share")).max
    val maxRot = rows.map(_.getAs[Long]("rot_share")).max
    // the fixture really concentrates (~99.9% in subspace 0)...
    assert(maxPlain >= AnnQueries.MinPlainShareMillionths,
      s"fixture not adversarial: max plain share $maxPlain")
    // ...the rotation really spreads (~25% per subspace)...
    assert(maxRot <= AnnQueries.MaxRotShareMillionths,
      s"rotation failed to balance: max rotated share $maxRot")
    // ...and an identity rotation reproduces the plain shares, which
    // sit far ABOVE the rotated ceiling — the gate's falsifiability
    assert(maxPlain > AnnQueries.MaxRotShareMillionths,
      "a no-op rotation would pass the gate — floors meaningless")
  }

  test("Permute: valid permutation, deterministic, balances the " +
      "aniso fixture's subspace energies") {
    import graft.ann.Permute
    val e = graft.sources.Sources.table(spark, sf001, "embeddings")
    val fix = AnnQueries.anisoEmb(e)
    def permOf(c: org.apache.spark.sql.DataFrame): Seq[Int] =
      Permute.permutation(c).collect().head
        .getSeq[Int](0).toSeq
    val p1 = permOf(fix)
    assert(p1.sorted == (0 until 64), s"not a permutation: $p1")
    assert(p1 == permOf(fix), "permutation must be deterministic")
    // balance: the 16 boosted dims (0-15) deal 4 per subspace
    val bySub = p1.zipWithIndex.groupBy(_._2 / 16)
      .view.mapValues(_.map(_._1).count(_ < 16))
    assert(bySub.values.toSeq.forall(_ == 4),
      s"boosted dims not dealt 4/subspace: ${bySub.toMap}")
  }

  test("recall-permuted gate: floors hold at sf0.001 and an IDENTITY " +
      "permutation scores margin zero (no-op fails)") {
    import graft.ann.Permute
    val out = AnnQueries.all.find(_.name == "ann_recall_permuted").get
      .run(spark, sf001).collect()
    assert(out.length == 20 && out.forall(_.getAs[Boolean]("sep_ok")))
    val hp = out.map(_.getAs[Long]("hits_perm")).sum
    val hl = out.map(_.getAs[Long]("hits_plain")).sum
    assert(hp >= hl + AnnQueries.MinPermMargin &&
      hp >= AnnQueries.MinPermRecallHits, s"perm $hp vs plain $hl")
    // the falsifiability arm: identity permutation == plain PQ top-k
    // bit for bit, so its margin is exactly 0 and the floor fails it
    val e = graft.sources.Sources.table(spark, sf001, "embeddings")
    val fix = AnnQueries.anisoEmb(e).localCheckpoint()
    import spark.implicits._
    val idPerm = Seq(Tuple1((0 until 64).toArray)).toDF("perm")
    val idp = Permute.permuted(fix, idPerm)
    val mod = Some(math.max(1L, fix.count() / 16))
    def tops(c: org.apache.spark.sql.DataFrame) = {
      val q = c.orderBy(col("vec_id")).limit(8)
        .select(col("vec_id").as("qid"), col("embedding"))
      Ann.pqTopKBatch(c, q, 10, modulus = mod)
        .select(col("qid"), col("vec_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    assert(tops(idp) == tops(fix),
      "identity permutation must reproduce plain PQ exactly")
  }

  test("re-rank gate: floors hold at sf0.001, candidates contain the " +
      "answer, and a NO-OP re-rank (plain top-10 as both sides) fails") {
    val out = AnnQueries.all.find(_.name == "ann_recall_rerank").get
      .run(spark, sf001).collect()
    assert(out.length == 4 && out.forall(_.getAs[Boolean]("sep_ok")))
    val hr = out.map(_.getAs[Long]("hits_rerank")).sum
    val hp = out.map(_.getAs[Long]("hits_plain")).sum
    assert(hr >= hp + AnnQueries.MinRerankMargin &&
      hr >= AnnQueries.MinRerankHits, s"rerank $hr vs plain $hp")
    // every reranked answer must come from the candidate stage, ordered
    // by the exact score within its query
    val e = graft.sources.Sources.table(spark, sf001, "embeddings")
    val q = e.orderBy(col("vec_id")).limit(4)
      .select(col("vec_id").as("qid"), col("embedding"))
    val candB = Ann.bruteForceTopKBatch(e, q, AnnQueries.RerankCand)
    val rr = Ann.rerankExact(candB, e, q, 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(rr.length == 40)
    // the election replayed in the test: score EVERY candidate exactly
    // (rerankExact at k = C returns all of them ranked), then the kept
    // set per qid must be exactly the 10-prefix of (score desc, id asc)
    val allScored = Ann.rerankExact(candB, e, q, AnnQueries.RerankCand)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val expected = allScored.groupBy(_._1).values.flatMap(rows =>
      rows.sortBy(r => (-r._3, r._2)).take(10).toSeq)
      .map(r => (r._1, r._2)).toSet
    assert(rr.map(r => (r._1, r._2)).toSet == expected,
      "reranked top-10 != replayed (score desc, id asc) prefix")
    assert(rr.forall(r => r._3 <= 1.0001 && r._3 >= -1.0001))
    // falsifiability: feeding the plain top-10 as the "reranked" side
    // yields margin exactly 0, which the pinned margin floor rejects
    val plain = Ann.bruteForceTopKBatch(e, q, 10)
    val noop = AnnQueries.recallGate2(
      Ann.bruteForceTopKBatch(e, q, 10), plain, plain,
      AnnQueries.MinRerankMargin, AnnQueries.MinRerankHits)
      .collect()
    assert(noop.forall(!_.getAs[Boolean]("sep_ok")),
      "a no-op re-rank must fail the margin floor")
    // the CEILING clause (r18, found by a seed-2 FuzzCorpus sweep): on
    // a corpus where the plain path already saturates candidate recall
    // the margin is unattainable BY CONSTRUCTION — an exact reranker at
    // the ceiling must still pass…
    val ceiled = AnnQueries.recallGate2(
      Ann.bruteForceTopKBatch(e, q, 10), plain, plain,
      AnnQueries.MinRerankMargin, AnnQueries.MinRerankHits,
      ceiling = Some(plain))
      .collect()
    assert(ceiled.forall(_.getAs[Boolean]("sep_ok")),
      "at-ceiling rerank must pass when the margin is unattainable")
    // …while a reranker that leaves candidate hits on the table (here:
    // an empty result) stays red even WITH the ceiling clause
    val crippled = AnnQueries.recallGate2(
      Ann.bruteForceTopKBatch(e, q, 10), plain.where("1 = 0"), plain,
      AnnQueries.MinRerankMargin, AnnQueries.MinRerankHits,
      ceiling = Some(plain))
      .collect()
    assert(crippled.forall(!_.getAs[Boolean]("sep_ok")),
      "a crippled reranker must fail despite the ceiling clause")
  }

  test("Opq.rotated rejects a non-64-dim embedding loudly") {
    import spark.implicits._
    val narrow = Seq((0L, Array.fill(8)(1.0f))).toDF("vec_id", "embedding")
    val ex = intercept[Exception] {
      graft.ann.Opq.rotated(narrow).collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(ex).exists(_.contains("must be exactly 64-dim")),
      s"wrong error: ${messages(ex).mkString(" | ")}")
  }

  test("IVF-pruned semantic decontam (row 109): identical to the " +
      "unpruned form; the triangle-inequality bound genuinely prunes") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // three tight clusters around orthogonal axes (8-dim, ±5% noise):
    // the shape REAL embeddings have and the isotropic synthetic
    // corpus lacks. Eval = one vector in cluster 0; the flagged set is
    // exactly cluster 0's non-eval members, and clusters 1/2 must be
    // ruled out by the bound without the kernel ever reading them.
    val vecs = (0L until 180L).map { i =>
      val c = (i % 3).toInt
      (i, Array.tabulate(8)(d =>
        (if (d == c) 1.0f else 0.0f) +
          (((i * 31 + d * 7) % 11).toInt - 5) * 0.01f))
    }.toDF("vec_id", "embedding")
    val pred = col("vec_id") === 0L
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(_._1)
    val pruned = rows(Ann.semanticDecontamPruned(vecs, pred,
      nlist = 8, modulus = Some(12L)))
    val full = rows(Ann.semanticDecontam(vecs, pred))
    // bit-identical outputs (ids, hit counts, AND max_cos doubles)
    assert(pruned.toSeq == full.toSeq,
      "the lossless prune must reproduce the unpruned form exactly")
    assert(pruned.length == 59 && pruned.forall(_._1 % 3 == 0),
      "flagged set must be exactly cluster 0's non-eval members")
    // non-vacuity: cells are genuinely skipped and with them most of
    // the corpus (measured: 9 occupied cells, 2 probed, 59/179 read)
    val (asg, probed, _) = Ann.decontamProbe(vecs, pred,
      Ann.SemDedupMinCos, "vec_id", "embedding", 8, Some(12L))
    val occ = asg.select(col("cell")).distinct().count()
    val kept = asg.join(broadcast(probed), Seq("cell"), "leftsemi").count()
    assert(probed.count() < occ, "the bound must skip far cells")
    assert(kept < asg.count(),
      "pruning must spare the kernel most of a clustered corpus")
  }

  test("semantic decontam (row 103): kernel == brute-force replay, " +
      "two-sided, eval never flagged") {
    import org.apache.spark.sql.functions._
    val e = graft.sources.Sources.table(spark, sf001, "embeddings")
    val pred = col("vec_id") % 97 === 0
    val out = Ann.semanticDecontam(e, pred).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val nTrain = e.where(!pred).count()
    // non-degenerate: flags SOMETHING and not everything
    assert(out.nonEmpty && out.length < nTrain,
      s"degenerate flag set: ${out.length} of $nTrain")
    // eval side can never flag itself
    assert(out.forall(_._1 % 97 != 0))
    // brute-force replay: per-pair dot via the independently-pinned
    // join formulation, thresholded at the same constant
    val qn = Ann.withNormalized(e.where(pred)
        .select(col("vec_id").as("eid"), col("embedding")),
      "embedding", "en").select(col("eid"), col("en"))
    val want = Ann.withNormalized(e.where(!pred), "embedding", "vn")
      .select(col("vec_id"), col("vn"))
      .join(broadcast(qn))
      .select(col("vec_id"), Ann.dot(col("vn"), col("en")).as("c"))
      .groupBy(col("vec_id"))
      .agg(sum(when(col("c") >= Ann.SemDedupMinCos, 1L).otherwise(0L))
          .as("n_hits"),
        max(col("c")).as("max_cos"))
      .where(col("max_cos") >= Ann.SemDedupMinCos)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(out.sortBy(_._1).toSeq == want.sortBy(_._1).toSeq,
      "kernel path drifted from the brute-force join replay")
    // and every flagged row really crossed the bar
    assert(out.forall(_._3 >= Ann.SemDedupMinCos))
  }

  test("drift gate: a same-distribution batch stays quiet; a " +
      "distribution-shifted batch flips retrain_due (r18 item 5)") {
    import spark.implicits._
    // training corpus: vectors hugging the first four axes (small
    // deterministic off-axis noise so residuals are nonzero)
    def axisVec(id: Long, axis: Int): Seq[Float] =
      Seq.tabulate(8)(d =>
        if (d == axis) 1f else 0.02f * (((id + d) % 3).toInt - 1))
    val trained = (0L until 64L).map(i => (i, axisVec(i, (i % 4).toInt)))
      .toDF("vec_id", "embedding")
    val centroids = Ann.ivfCentroids(trained, nlist = 16,
      modulus = Some(4L))
    // same distribution, fresh ids → residuals comparable → quiet
    val same = (100L until 164L).map(i => (i, axisVec(i, (i % 4).toInt)))
      .toDF("vec_id", "embedding")
    val quiet = Ann.driftGate(trained, same, centroids).head()
    assert(!quiet.getAs[Boolean]("retrain_due"),
      s"same-distribution batch flagged: $quiet")
    // the shift: all mass on axes the training slice never used →
    // best-centroid dot collapses → ratio far above the threshold
    val shifted = (200L until 264L).map(i =>
        (i, axisVec(i, 4 + (i % 4).toInt)))
      .toDF("vec_id", "embedding")
    val loud = Ann.driftGate(trained, shifted, centroids).head()
    assert(loud.getAs[Boolean]("retrain_due"),
      s"shifted batch not flagged: $loud")
    assert(loud.getAs[Double]("ratio") > Ann.DriftRatioMax)
  }
}
