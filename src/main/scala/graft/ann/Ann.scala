package graft.ann

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Similarity search over an embedding column (SURVEY.md §2 rows 29-31).
 *
 * All vector math runs through graft's native Catalyst expressions
 * (ArrayDotProduct/ArrayL2Norm, proper doGenCode) in strict left-to-right
 * double precision — deterministic (bit-identical across runs and engines
 * that evaluate in the same order), whole-stage-codegen'd, no UDFs.
 *
 * Scale shape: brute-force top-k is a single map pass + TakeOrdered (no
 * shuffle of the corpus); the LSH paths bucket on sign-bit keys so only
 * same-bucket pairs are formed.
 */
object Ann {

  /**
   * Dot product in strict sequential double math — the native codegen'd
   * [[graft.functions.ArrayDotProduct]] (HOF zip_with/aggregate would run
   * interpreted in the quadratic pairwise stages). Bit-identical results.
   */
  def dot(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.bridge.column(
      graft.functions.ArrayDotProduct(
        org.apache.spark.sql.graft.bridge.expression(a),
        org.apache.spark.sql.graft.bridge.expression(b)))

  /** Euclidean norm in strict sequential double math (native codegen'd). */
  def norm(a: Column): Column =
    org.apache.spark.sql.graft.bridge.column(
      graft.functions.ArrayL2Norm(
        org.apache.spark.sql.graft.bridge.expression(a)))

  /** Cosine similarity. */
  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /**
   * Add `out` = vecCol / ||vecCol|| (double array). The norm lands in its
   * own projection first: HOF lambdas are interpreted with NO common-
   * subexpression elimination, so an inline norm(v) inside the transform
   * would be recomputed per element. Pre-normalizing turns every
   * downstream pairwise cosine into a single dot pass instead of three
   * (dot + two norms) — the pairwise stages are the quadratic ones.
   */
  def withNormalized(df: DataFrame, vecCol: String, out: String): DataFrame =
    df.withColumn("_nrm", norm(col(vecCol)))
      // zero-norm vectors are INVALID INPUT, dropped at the ingest
      // boundary (the reference's bad-value row-drop semantics applied
      // to vectors): a failed encoder emits all-zeros, and cosine over
      // it is 0/0 — ANSI Spark errors, IEEE engines emit NaN, and no
      // two engines rank the poison the same way. Every oracle replays
      // the same norm>0 filter. Found by the FuzzCorpus gate.
      .where(col("_nrm") > 0)
      .withColumn(out, transform(col(vecCol), x => x.cast("double") / col("_nrm")))
      .drop("_nrm")

  /**
   * Sign-bit LSH bucket: bit j = sign of component j*stride. Cheap
   * deterministic bucketing (axis-aligned hyperplanes); `bits` tunes the
   * recall/bucket-size trade-off — at 1000 executors you'd raise bits to
   * keep buckets memory-sized and add multi-probe for recall.
   */
  def signBucket(v: Column, bits: Int = 4, stride: Int = 1): Column =
    (0 until bits).map { j =>
      // get() is 0-based and null-safe: a vector shorter than `bits`
      // contributes 0-bits (NULL > 0 is false), matching SQL oracles'
      // out-of-bounds-is-NULL indexing instead of throwing
      when(get(v, lit(j * stride)) > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)

  /**
   * Bucket-bit count sized to the corpus: enough sign bits that an
   * evenly-split corpus lands ~targetBucket rows per bucket —
   * ceil(log2(n / targetBucket)), clamped to [minBits, maxBits]. A fixed
   * small default (16 buckets) is a parallelism ceiling at cluster
   * scale: 10⁹ vectors over 16 buckets is 60M-row reducers, while
   * bucketBitsFor(1e9) = 16 bits → 65k buckets of ~15k rows. Sign splits
   * are rarely perfectly even, so treat targetBucket as an order of
   * magnitude, and cap maxBits at the embedding dimension (bits beyond
   * it read past the vector and stop discriminating).
   */
  def bucketBitsFor(n: Long, targetBucket: Long = 4096,
      minBits: Int = 4, maxBits: Int = 16): Int = {
    val buckets = math.max(1L, n / math.max(1L, targetBucket))
    val bits = 64 - java.lang.Long.numberOfLeadingZeros(math.max(0L, buckets - 1))
    math.min(maxBits, math.max(minBits, bits))
  }

  /** Sentinel for "derive bits from the corpus count" in the bulk
    * two-sided paths ([[knnJoin]], [[cosinePairs]]) — the single-query
    * paths keep an explicit small default since their cost is one scan
    * regardless of bucket count. */
  val DeriveBits = 0

  /** Sentinels for "derive the IVF geometry from the corpus count" —
    * see [[nlistFor]] / [[nprobeFor]]. */
  val DeriveNlist = 0
  val DeriveNprobe = 0

  /**
   * IVF cell count sized to the corpus — the [[bucketBitsFor]] move for
   * the coarse quantizer: a FIXED nlist is a scan-fraction time bomb
   * (nlist=16 at 10⁹ vectors means each probed cell holds 6×10⁷ rows,
   * so nprobe=4 ADC-scans a quarter of the corpus per query). Target
   * ~√n/4 cells rounded to a power of two — per-query scanned rows then
   * grow as √n instead of linearly — via pure INTEGER arithmetic both
   * engines reproduce exactly: b = ceil(log2(n)) (64 − nlz(n−1) here;
   * `ceil(log2(count))` in SQL — powers of two are exact in double
   * log2, so the forms agree for every n), nlist = 2^(b/2 − 2),
   * clamped to [16, 65536]. The cap bounds the broadcast centroid
   * table (65536 × 64 dims ≈ 33 MB) — past it, raise nprobe instead.
   */
  def nlistFor(n: Long, minNlist: Int = 16, maxNlist: Int = 65536): Int = {
    val b = 64 - java.lang.Long.numberOfLeadingZeros(math.max(1L, n - 1))
    val raw = 1L << math.max(0, b / 2 - 2)
    math.min(maxNlist.toLong, math.max(minNlist.toLong, raw)).toInt
  }

  /**
   * Probe count sized to the cell count: nlist/16 clamped to [4, 32].
   * More cells spread a query's true neighbors over more cells, so
   * nprobe must grow with nlist to hold recall — but sublinearly, or
   * the scan fraction (nprobe/nlist) stops shrinking. At the caps:
   * 16 cells probe 4 (a quarter of the corpus — fine when n is small),
   * 8192 cells probe 32 (0.4% of the corpus at 10⁹ rows).
   */
  def nprobeFor(nlist: Int): Int = math.min(32, math.max(4, nlist / 16))

  /** Recover the INTENDED nlist from a materialized centroid table's
    * row count: the hash sampling delivers only approximately nlist
    * centroids, and near an nlist/16 boundary `nprobeFor(count)` could
    * silently diverge from `nprobeFor(nlist)` — but every derived nlist
    * is a power of two, so rounding the count to the nearest power of
    * two (geometric midpoint, ties up) reconstructs it exactly for any
    * sampling shortfall or overshoot under ±√2×. Clamped like
    * [[nlistFor]] so a tiny-corpus table still lands on the floor. */
  def nlistFromCount(c: Long, minNlist: Int = 16,
      maxNlist: Int = 65536): Int = {
    val cc = math.max(1L, c)
    val h = 63 - java.lang.Long.numberOfLeadingZeros(cc)
    val lo = 1L << h
    // compare c to the geometric midpoint lo·√2 without floats:
    // c ≥ lo·√2  ⟺  c² ≥ 2·lo²  (exact in Long for lo ≤ 2³⁰)
    val rounded = if (cc <= (1L << 30) && cc * cc >= (lo << 1) * lo) lo << 1
      else if (cc > (1L << 30)) lo // far past any real nlist; clamp wins
      else lo
    math.min(maxNlist.toLong, math.max(minNlist.toLong, rounded)).toInt
  }

  /** Target bucket population for the QUADRATIC two-sided paths
    * ([[knnJoin]], [[cosinePairs]]) — deliberately tighter than
    * [[bucketBitsFor]]'s 4096 default. In those paths candidate volume
    * is rows × bucket population AND each bucket key is one join task,
    * so bucket population is both the cost multiplier and the
    * parallelism ceiling. Measured at the 10× gate (20k vectors,
    * SURVEY.md §11 item 6): stepping 16 → 32 buckets cut first-run
    * knnJoin from 19.1 s to 2.0 s (candidate rows 25.1M → 12.6M, the
    * hottest task halved) with ZERO left rows short of k after adaptive
    * probing —
    * even at 128 buckets probing kept every row filled, so the tighter
    * target costs no recall the probe can't recover. */
  val QuadraticTargetBucket = 1024L

  /** Assumed on-disk bytes per embedding row when sizing buckets from
    * plan statistics. Only the order of magnitude matters: a 2× width
    * error moves the derived bit count by one, the same tolerance
    * [[bucketBitsFor]] already claims for uneven sign splits. */
  private val BytesPerVectorRow = 512L

  /** Row-count estimate for bucket sizing WITHOUT an extra data pass:
    * Catalyst plan stats (exact rowCount when available, else
    * sizeInBytes / `bytesPerRow`). A filtered or derived frame
    * at 100 TB must not be executed twice just to pick a bucket width —
    * `count()` runs the full upstream lineage. Only a leaf Spark cannot
    * size at all (sizeInBytes pinned at the defaultSizeInBytes sentinel,
    * which would peg bits at the cap) falls back to one real count.
    * Shared with [[graft.dedup.Corpus.packChunks]]'s shard sizing. */
  private[graft] def estimatedRows(df: DataFrame,
      bytesPerRow: Long = BytesPerVectorRow): Long = {
    val stats = df.queryExecution.optimizedPlan.stats
    stats.rowCount match {
      case Some(rc) => math.max(1L, rc.toLong)
      case None =>
        val sz = stats.sizeInBytes
        if (sz >= BigInt(Long.MaxValue) / 4) df.count()
        else math.max(1L, (sz / bytesPerRow).toLong)
    }
  }

  /**
   * Brute-force cosine top-k against one query vector (a 1-row DF —
   * broadcast, never collected). The global plan is scan → broadcast
   * join → TakeOrderedAndProject: no corpus shuffle at any scale.
   */
  def bruteForceTopK(corpus: DataFrame, query: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    corpus.join(broadcast(query.select(col(vecCol).as("q"))))
      .select(col(idCol), cosine(col(vecCol), col("q")).as("cos"))
      .orderBy(col("cos").desc, col(idCol))
      .limit(k)

  /**
   * Brute-force cosine top-k for a BATCH of query vectors — the exact
   * bulk shape: one corpus pass joined against the broadcast query
   * table, ranked per query with a window. Output (qid, id, cos) for
   * each query's k nearest. Scale shape: the corpus never shuffles on
   * its own key — the only shuffle is the ranking window's
   * hash-partition of candidate rows (|corpus| × |queries|, so this is
   * the GROUND-TRUTH path, linear in queries; the pruned serving path
   * is [[ivfpqTopKEncodedBatch]]).
   */
  def bruteForceTopKBatch(corpus: DataFrame, queries: DataFrame, k: Int,
      idCol: String = "vec_id", qidCol: String = "qid",
      vecCol: String = "embedding"): DataFrame = {
    val qn = withNormalized(queries, vecCol, "qn")
      .select(col(qidCol).as("_qid"), col("qn"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("_qid")).orderBy(col("cos").desc, col(idCol))
    withNormalized(corpus, vecCol, "vn")
      .select(col(idCol), col("vn"))
      .join(broadcast(qn))
      .select(col("_qid"), col(idCol), dot(col("vn"), col("qn")).as("cos"))
      .withColumn("rank", row_number().over(w)).where(col("rank") <= k)
      .select(col("_qid").as(qidCol), col(idCol), col("cos"))
  }

  /**
   * LSH-bucketed top-k: restrict the scan to the query's sign bucket
   * before scoring — the 1/2^bits-of-the-corpus scale path, trading
   * recall at bucket boundaries.
   */
  def lshTopK(corpus: DataFrame, query: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      bits: Int = 4): DataFrame = {
    val q = broadcast(withNormalized(query, vecCol, "qn")
      .select(col("qn"), signBucket(col(vecCol), bits).as("qb")))
    withNormalized(corpus, vecCol, "vn")
      .withColumn("b", signBucket(col(vecCol), bits))
      .join(q, col("b") === col("qb"))
      .select(col(idCol), dot(col("vn"), col("qn")).as("cos"))
      .orderBy(col("cos").desc, col(idCol))
      .limit(k)
  }

  /**
   * Multi-probe LSH top-k: additionally probe every bucket at hamming
   * distance 1 from the query's bucket (flip each sign bit once) —
   * recovers the recall lost at bucket boundaries for (bits+1)/2^bits of
   * the corpus scanned. Probe buckets are distinct, so no result dedup
   * is needed.
   */
  def lshTopKMultiProbe(corpus: DataFrame, query: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      bits: Int = 4): DataFrame = {
    val q0 = withNormalized(query, vecCol, "qn")
      .select(col("qn"), signBucket(col(vecCol), bits).as("qb"))
    val probeCols = col("qb") +:
      (0 until bits).map(j => col("qb").bitwiseXOR(lit(1L << j)))
    val q = broadcast(q0.select(col("qn"),
      explode(array(probeCols: _*)).as("qb")))
    withNormalized(corpus, vecCol, "vn")
      .withColumn("b", signBucket(col(vecCol), bits))
      .join(q, col("b") === col("qb"))
      .select(col(idCol), dot(col("vn"), col("qn")).as("cos"))
      .orderBy(col("cos").desc, col(idCol))
      .limit(k)
  }

  /**
   * LSH-bucketed top-k for a BATCH of queries: bucket-equi-join the
   * corpus to the broadcast query table, rank per query. Per-query
   * results are IDENTICAL to [[lshTopK]] at the same bits (same bucket,
   * same normalized dot, same ordering) — the recall gate relies on
   * that equivalence to measure the single-query gate's quality over
   * many queries in one plan. Scale shape: one corpus pass, broadcast
   * join on the bucket key, window shuffle of same-bucket candidates
   * only.
   */
  def lshTopKBatch(corpus: DataFrame, queries: DataFrame, k: Int,
      idCol: String = "vec_id", qidCol: String = "qid",
      vecCol: String = "embedding", bits: Int = 4): DataFrame = {
    val q = broadcast(withNormalized(queries, vecCol, "qn")
      .select(col(qidCol).as("_qid"), col("qn"),
        signBucket(col(vecCol), bits).as("qb")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("_qid")).orderBy(col("cos").desc, col(idCol))
    withNormalized(corpus, vecCol, "vn")
      .withColumn("b", signBucket(col(vecCol), bits))
      .join(q, col("b") === col("qb"))
      .select(col("_qid"), col(idCol), dot(col("vn"), col("qn")).as("cos"))
      .withColumn("rank", row_number().over(w)).where(col("rank") <= k)
      .select(col("_qid").as(qidCol), col(idCol), col("cos"))
  }

  /**
   * IVF-style top-k: a deterministic coarse quantizer (centroids = every
   * ⌈n/nlist⌉-th vector in id order — reproducible without a training
   * step) partitions the corpus into cells; the query scans only the
   * `nprobe` nearest cells. Assignment is a broadcast of nlist centroid
   * rows + min_by per vector — at production scale you'd precompute and
   * persist the cell column with the corpus and bucket-join on it, same
   * shape as the index layer.
   */
  /** The deterministic IVF coarse quantizer: XHash-sampled centroid rows
    * (broadcastable — ~nlist rows). The sampling modulus defaults to
    * plan statistics ([[estimatedRows]] — no extra pass even over a
    * FILTERED corpus, whose count() would run the whole lineage); a
    * coarse quantizer only needs ~nlist centroids to an order of
    * magnitude, so stats precision is plenty. Pass `modulus` to pin the
    * sampling exactly — e.g. to replay it in an external SQL engine,
    * where `count(*) / nlist` is the natural pin. */
  def ivfCentroids(corpus: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding", nlist: Int = DeriveNlist,
      modulus: Option[Long] = None): DataFrame = {
    // cell count scales with the corpus by default ([[nlistFor]], sized
    // from plan statistics — no extra data pass); pass nlist explicitly
    // to pin the geometry
    val nl = if (nlist == DeriveNlist) nlistFor(estimatedRows(corpus))
      else nlist
    // deterministic hash sample of ~nlist centroids — no global sort, no
    // training job. Sampling hashes with the cross-engine XHash (not
    // xxhash64) so an oracle can replay the centroid choice.
    val m = modulus.getOrElse(
      math.max(1L, estimatedRows(corpus) / nl))
    // materialize the ~nlist rows: assignment, probe selection, and
    // refinement all consume them and would each replay the sampling scan
    withNormalized(corpus, vecCol, "vn")
      .select(col(idCol).as("id"), col("vn"))
      .where(pmod(graft.functions.XHash.h60(col("id").cast("string")), lit(m)) === 0)
      .select(col("id").as("cid"), col("vn").as("cv"))
      .localCheckpoint()
  }

  /**
   * Cell assignment (id, vn, cell): argmax dot over the broadcast
   * centroids, ties broken on cid via struct ordering. At production
   * scale this is the dataset you PERSIST alongside the corpus
   * (partitioned/bucketed by `cell`), so repeated queries skip the
   * assignment pass entirely — see [[ivfTopKAssigned]].
   *
   * `keep` names metadata columns carried through onto the assignment
   * row (attribute storage: a FILTERED search evaluates its predicate
   * on probed-cell members with no corpus join — over the persisted
   * layout the attributes live in the pruned cell files themselves).
   */
  def ivfAssign(corpus: DataFrame, centroids: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding",
      keep: Seq[String] = Nil): DataFrame = {
    val aggs = first(col("vn")).as("vn") +:
      max_by(col("cid"), struct(col("d"), col("cid"))).as("cell") +:
      keep.map(m => first(col(m)).as(m))
    withNormalized(corpus, vecCol, "vn")
      .select(col(idCol).as("id") +: col("vn") +: keep.map(col): _*)
      .crossJoin(broadcast(centroids))
      .withColumn("d", dot(col("vn"), col("cv")))
      .groupBy(col("id"))
      .agg(aggs.head, aggs.tail: _*)
  }

  /**
   * One deterministic Lloyd refinement of IVF centroids: assign every
   * vector to its argmax-dot centroid, then replace each centroid with
   * its cell's per-dimension MEAN; a cell that captured nothing keeps
   * its old centroid. A FIXED iteration count (callers chain calls for
   * more) keeps the whole training replayable by a SQL oracle — the
   * recall upgrade over raw sampled centroids without a nondeterministic
   * k-means fit. Scale shape: one broadcast-assign pass + a groupBy on
   * (cell, dim) — both linear, no corpus² stage; the mean reassembly
   * runs on k×dim rows (tiny).
   */
  def ivfRefine(corpus: DataFrame, centroids: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    // means round to a 1e-6 grid: a distributed avg() sums in partition-
    // arrival order, so its last bits differ run to run and engine to
    // engine — enough to flip cell assignments for boundary vectors.
    // Rounding leaves ~1e-13 reassociation noise twelve orders of
    // magnitude inside the grid, making the refined centroids exactly
    // reproducible (a mean landing within 1e-13 of a grid edge is the
    // only residual risk).
    val means = ivfAssign(corpus, centroids, idCol, vecCol)
      .select(col("cell"), posexplode(col("vn")).as(Seq("pos", "x")))
      .groupBy(col("cell"), col("pos")).agg(round(avg(col("x")), 6).as("m"))
      .groupBy(col("cell"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
        s => s.getField("m")).as("refined"))
      .select(col("cell").as("cid"), col("refined"))
    // SPHERICAL k-means: renormalize each mean to unit length — the
    // argmax-DOT assignment otherwise scales with ||mean|| (tight cells
    // out-shout diffuse ones) and cohesion DEGRADES instead of improving
    // (measured: 0.25 → 0.10 on the test embeddings without this).
    // Deterministic cross-engine: the norm/divide runs on grid-rounded
    // means, and ArrayL2Norm mirrors the oracle's sequential fold.
    // A zero mean (perfectly balanced cell) stays unnormalized.
    val refinedN = means.withColumn("_n", norm(col("refined")))
      .select(col("cid"),
        when(col("_n") > 0, transform(col("refined"), x => x / col("_n")))
          .otherwise(col("refined")).as("refined"))
    // materialize: the refined centroids embed a whole-corpus assignment
    // pass that both the re-assignment and the probe selection would
    // otherwise replay
    centroids.join(refinedN, Seq("cid"), "left")
      .select(col("cid"), coalesce(col("refined"), col("cv")).as("cv"))
      .localCheckpoint()
  }

  /** IVF search over a precomputed assignment (id, vn, cell): probe the
    * nprobe nearest cells, score only their members. */
  def ivfTopKAssigned(assigned: DataFrame, centroids: DataFrame,
      query: DataFrame, k: Int, idCol: String = "vec_id",
      vecCol: String = "embedding", nprobe: Int = DeriveNprobe): DataFrame = {
    // derive nprobe from the materialized centroid table when not pinned
    // (a count over ~nlist localCheckpointed rows — no corpus access);
    // callers holding the intended nlist should pass nprobeFor(nlist)
    // so a sampling shortfall can't move the probe count
    val np = if (nprobe == DeriveNprobe) nprobeFor(nlistFromCount(centroids.count()))
      else nprobe
    val qn = withNormalized(query, vecCol, "qn").select(col("qn"))
    val qCells = broadcast(qn.crossJoin(broadcast(centroids))
      .select(col("qn"), col("cid"), dot(col("qn"), col("cv")).as("d"))
      .orderBy(col("d").desc, col("cid"))
      .limit(np)
      .select(col("qn"), col("cid").as("cell")))
    assigned.join(qCells, Seq("cell"))
      .select(col("id").as(idCol), dot(col("vn"), col("qn")).as("cos"))
      .orderBy(col("cos").desc, col(idCol))
      .limit(k)
  }

  /**
   * ADAPTIVE filtered search — the pre-filter / post-filter decision
   * every production vector store makes. A predicate's population
   * decides the plan: at or below `exactThreshold` matching vectors
   * (default 2k), brute-force the SUBSET exactly — both CHEAPER than
   * probing (≤ 2k dot products vs an nprobe-cell scan) and EXACT,
   * where IVF post-filtering collapses (a tiny labeled population can
   * concentrate entirely in unprobed cells: measured recall 2/10 on a
   * 13-vector slice, found by a seed-3 FuzzCorpus sweep); above it,
   * the standard full-corpus IVF with the predicate evaluated on
   * probed-cell members (attributes ride on the assignment row — no
   * corpus join at serve time) and `nprobe` as passed (callers double
   * it — the usual compensation for filter-thinned candidates). The
   * threshold count is one scan of the predicate's slice (metadata a
   * real store keeps per predicate value); zero-norm vectors are
   * excluded from both the count and the exact branch, matching the
   * ingest-boundary drop semantics every other path applies.
   *
   * `predicate` must be expressed over the corpus frame; `assignedPred`
   * is the same condition over the assignment frame (id column is
   * `id` there, attributes from `keep` ride along).
   */
  def filteredTopK(corpus: DataFrame, predicate: Column,
      assignedPred: Column, keep: Seq[String], query: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      nlist: Int = DeriveNlist, nprobe: Int = DeriveNprobe,
      modulus: Option[Long] = None, exactThreshold: Long = -1L,
      /** The predicate's precomputed population ([[sliceCount]] from a
        * persisted [[writeSliceCounts]] store). None (ad-hoc predicates
        * only) falls back to counting the slice — an extra pass PER
        * CALL, the r18 watch-item; serving paths pass the stored count
        * so the arm decision is O(1) at serve time. */
      sliceCount: Option[Long] = None): DataFrame = {
    val thr = if (exactThreshold >= 0) exactThreshold else 2L * k
    val sub = corpus.where(predicate).where(norm(col(vecCol)) > 0)
    if (sliceCount.getOrElse(sub.count()) <= thr)
      bruteForceTopK(sub, query, k, idCol, vecCol)
    else {
      val nl = if (nlist == DeriveNlist) nlistFor(estimatedRows(corpus))
        else nlist
      val np = if (nprobe == DeriveNprobe) nprobeFor(nl) else nprobe
      val centroids = ivfCentroids(corpus, idCol, vecCol, nl, modulus)
      ivfTopKAssigned(
        ivfAssign(corpus, centroids, idCol, vecCol, keep).where(assignedPred),
        centroids, query, k, idCol, vecCol, np)
    }
  }

  // ---- per-predicate slice-count metadata (r18 verdict item 4) ----
  // filteredTopK's pre/post-filter arm decision needs the predicate's
  // population; counting it at serve time is an extra pass over the
  // predicate's slice PER QUERY. A production vector store keeps this
  // as metadata per predicate value, maintained at ingest — these
  // three calls are that store: counts per predicate key at index
  // BUILD, pure integer adds at APPEND (the BM25 df-summary move),
  // one driver-side row read at SERVE. Layout: a single-file
  // [[graft.store.Versioned]] parquet (pred_key, cnt) beside the IVF
  // artifact — pointer-flip rewrites, safe on any FS, bounded by the
  // number of DISTINCT serving predicates (query-log-sized, never
  // corpus-sized).

  /** Build the slice-count summary: one (pred_key, cnt) row per
    * serving predicate, counting the predicate's NONZERO-NORM
    * population (the same ingest-boundary drop every search path
    * applies). */
  def writeSliceCounts(s: org.apache.spark.sql.SparkSession, root: String,
      corpus: DataFrame, preds: Seq[(String, Column)],
      vecCol: String = "embedding"): Unit = {
    val rows = sliceCountRows(corpus, preds, vecCol)
    graft.store.Versioned.rewrite(s, root, "slice_counts")(dir =>
      rows.coalesce(1).write.mode("overwrite").parquet(dir))
  }

  /** Absorb an appended batch: re-evaluate each predicate on the BATCH
    * rows only and integer-add into the stored counts (disjoint ids →
    * counts add; nothing already indexed is re-counted). */
  def appendSliceCounts(s: org.apache.spark.sql.SparkSession, root: String,
      batch: DataFrame, preds: Seq[(String, Column)],
      vecCol: String = "embedding"): Unit = {
    val delta = sliceCountRows(batch, preds, vecCol)
      .withColumnRenamed("cnt", "d")
    val old = graft.sources.Sources.parquet(s, 
      graft.store.Versioned.current(s, root, "slice_counts"))
    val merged = old.join(delta, Seq("pred_key"), "full_outer")
      .select(col("pred_key"),
        (coalesce(col("cnt"), lit(0L)) + coalesce(col("d"), lit(0L)))
          .as("cnt"))
    graft.store.Versioned.rewrite(s, root, "slice_counts")(dir =>
      merged.coalesce(1).write.mode("overwrite").parquet(dir))
  }

  /** The stored population for one predicate key — the O(1) serve-time
    * read [[filteredTopK]]'s `sliceCount` parameter wants. Throws on an
    * unknown key: a predicate with no maintained count must fall back
    * to counting EXPLICITLY, never silently. */
  def sliceCount(s: org.apache.spark.sql.SparkSession, root: String,
      key: String): Long =
    graft.sources.Sources.parquet(s, graft.store.Versioned.current(s, root, "slice_counts"))
      .where(col("pred_key") === lit(key))
      .collect().headOption
      .map(_.getAs[Long]("cnt"))
      .getOrElse(throw new NoSuchElementException(
        s"slice-count store $root has no key '$key'"))

  private def sliceCountRows(corpus: DataFrame,
      preds: Seq[(String, Column)], vecCol: String): DataFrame = {
    require(preds.nonEmpty, "no predicates")
    preds.map { case (k, p) =>
      corpus.where(p).where(norm(col(vecCol)) > 0)
        .agg(count(lit(1)).cast("long").as("cnt"))
        .select(lit(k).as("pred_key"), col("cnt"))
    }.reduceLeft(_ unionByName _)
  }

  /** Drift threshold for [[driftGate]]: a batch whose mean residual
    * exceeds 1.25× the training slice's no longer looks like the data
    * the geometry was trained on. */
  val DriftRatioMax = 1.25

  /**
   * Quantization-drift gate for a FROZEN IVF geometry (r18 verdict
   * item 5 — the index-lifecycle DECISION the recall floors lacked):
   * mean cosine quantization residual (1 − best-centroid dot) of the
   * TRAINING slice vs an incoming batch, their ratio, and the
   * `retrain_due` flag the pipeline acts on. The ratio is rounded to
   * 6 decimals before the threshold comparison (the grid-rounding
   * discipline — both engines compare the identical number). A zero
   * training residual (degenerate: every vector sampled as a
   * centroid) pins `retrain_due = batch residual > 0`.
   *
   * Scale shape: one |slice|×nlist dot pass per side — the same cost
   * as one assignment pass, which an append pays anyway; a production
   * pipeline computes the batch half ON the append and keeps the
   * training half as stored metadata beside the centroids.
   */
  def driftGate(trained: DataFrame, batch: DataFrame, centroids: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    def meanErr(df: DataFrame, name: String) =
      withNormalized(df, vecCol, "vn")
        .select(col(idCol), col("vn"))
        .crossJoin(broadcast(centroids))
        .select(col(idCol), dot(col("vn"), col("cv")).as("d"))
        .groupBy(col(idCol)).agg(max(col("d")).as("dmax"))
        .agg(avg(lit(1.0) - col("dmax")).as(name))
    val ratio = round(col("err_batch") / col("err_trained"), 6)
    meanErr(trained, "err_trained").crossJoin(meanErr(batch, "err_batch"))
      .select(col("err_trained"), col("err_batch"),
        when(col("err_trained") > 0, ratio).as("ratio"),
        when(col("err_trained") > 0, ratio > lit(DriftRatioMax))
          .otherwise(col("err_batch") > 0).as("retrain_due"))
  }

  def ivfTopK(corpus: DataFrame, query: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      nlist: Int = DeriveNlist, nprobe: Int = DeriveNprobe,
      modulus: Option[Long] = None): DataFrame = {
    val nl = if (nlist == DeriveNlist) nlistFor(estimatedRows(corpus))
      else nlist
    val np = if (nprobe == DeriveNprobe) nprobeFor(nl) else nprobe
    val centroids = ivfCentroids(corpus, idCol, vecCol, nl, modulus)
    ivfTopKAssigned(ivfAssign(corpus, centroids, idCol, vecCol), centroids,
      query, k, idCol, vecCol, np)
  }

  /**
   * k-NN JOIN: every left row gets its k nearest right rows by cosine —
   * the bulk-retrieval shape (one query vector per corpus row) as
   * opposed to the single-query topK paths. Approximate: candidates
   * come from the left row's sign bucket, widened by hamming-1 probes
   * (distinct buckets — no candidate dedup needed), ranked per left id
   * with a window. By default probing is ADAPTIVE: only left rows whose
   * home bucket holds fewer than k rivals explode into the `bits`
   * hamming-1 probes — unconditional probing duplicates the WHOLE left
   * side ×(bits+1) into the join (at derived bits=16 that is 17× the
   * corpus), when for most rows the home bucket already fills k.
   * `fullProbe = true` restores unconditional probing (higher recall for
   * rows whose true neighbors sit across a bucket boundary even though
   * the home bucket is full). Scale shape: both sides shuffle once on
   * the bucket key (twice when any row underfills), then once on the
   * left id for the ranking window; never a cross join. Rows whose
   * probed buckets hold fewer than k rivals return fewer than k
   * neighbors (raise bits/probes, not k, to fix recall). Pairs with
   * equal ids are excluded (self-match suppression for the common
   * corpus⋈itself case); joining two tables whose id spaces overlap
   * should disambiguate ids first.
   */
  def knnJoin(left: DataFrame, right: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      bits: Int = DeriveBits, fullProbe: Boolean = false): DataFrame = {
    val cand = knnCandidates(left, right, k, idCol, vecCol, bits, fullProbe)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lid")).orderBy(col("cos").desc, col("rid"))
    cand.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
  }

  /** Candidate set of [[knnJoin]], exposed for volume assertions:
    * (lid, rid, cos) rows that enter the ranking window. */
  private[graft] def knnCandidates(left: DataFrame, right: DataFrame, k: Int,
      idCol: String, vecCol: String, bits: Int, fullProbe: Boolean): DataFrame = {
    // Default bucket width scales with the corpus, sized from plan
    // statistics (no extra data pass) at the quadratic-path target;
    // pass bits explicitly to pin the geometry.
    val bb = if (bits == DeriveBits)
      bucketBitsFor(estimatedRows(right), QuadraticTargetBucket) else bits
    // no pre-repartition: the bucket-key equi-join hash-partitions both
    // sides anyway, and the ranking window re-shuffles on lid — an id
    // repartition here would just add two whole-corpus shuffles
    val l = withNormalized(left, vecCol, "lv")
      .select(col(idCol).as("lid"), col("lv"),
        signBucket(col(vecCol), bb).as("lb"))
    val r = withNormalized(right, vecCol, "rv")
      .select(col(idCol).as("rid"), col("rv"),
        signBucket(col(vecCol), bb).as("rb"))
    def hamming1Probes(src: DataFrame): DataFrame = src.select(
      col("lid"), col("lv"),
      explode(array((0 until bb).map(j =>
        col("lb").bitwiseXOR(lit(1L << j))): _*)).as("pb"))
    def cands(probes: DataFrame, probeCol: String): DataFrame =
      probes.join(r, col(probeCol) === col("rb") && col("lid") =!= col("rid"))
        .select(col("lid"), col("rid"), dot(col("lv"), col("rv")).as("cos"))
    if (fullProbe)
      cands(hamming1Probes(l).unionByName(
        l.select(col("lid"), col("lv"), col("lb").as("pb"))), "pb")
    else {
      // materialize the home candidates once: they feed BOTH the
      // underfill test and the final union — recomputing would run the
      // bucket join twice
      val home = cands(l.withColumnRenamed("lb", "pb"), "pb").localCheckpoint()
      val filled = home.groupBy(col("lid")).agg(count(lit(1)).as("c"))
        .where(col("c") >= k).select(col("lid"))
      // left rows with < k home rivals — including those with none
      val needy = l.join(filled, Seq("lid"), "left_anti")
      // hamming-1 buckets are disjoint from the home bucket, so the
      // union has no duplicate (lid, rid) pairs to dedup
      home.unionByName(cands(hamming1Probes(needy), "pb"))
    }
  }

  /**
   * Product-quantization codebooks — the next compression step after
   * [[quantize8]]: each normalized vector splits into `m` sub-vectors,
   * and each subspace gets ~`k` centroids chosen DETERMINISTICALLY (the
   * XHash-sampled rows' sub-vectors — the same reproducible, training-
   * free sampling as [[ivfCentroids]], replayable by a SQL oracle).
   * Output (sub, cid, cv): m×k rows — broadcastable at any corpus size.
   */
  def pqCodebooks(corpus: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding", m: Int = 4, k: Int = 16,
      modulus: Option[Long] = None): DataFrame = {
    val dim = corpus.select(size(col(vecCol))).head.getInt(0)
    require(dim % m == 0, s"embedding dim $dim not divisible by m=$m subspaces")
    val dsub = dim / m
    // like [[ivfCentroids]]: plan-stats modulus by default (no count()
    // pass over the lineage), explicit pin for oracle replay
    val mod = modulus.getOrElse(math.max(1L, estimatedRows(corpus) / k))
    val sampled = withNormalized(corpus, vecCol, "vn")
      .where(pmod(graft.functions.XHash.h60(col(idCol).cast("string")),
        lit(mod)) === 0)
      .select(col(idCol).as("cid"), col("vn"))
    val subCols = (0 until m).map(s =>
      struct(lit(s).as("sub"), slice(col("vn"), s * dsub + 1, dsub).as("cv")))
    // materialize the m×k rows: every consumer (encode, refine, LUT, and
    // their dsub lookups) would otherwise replay the sampling scan
    sampled.select(col("cid"), explode(array(subCols: _*)).as("b"))
      .select(col("b.sub").as("sub"), col("cid"), col("b.cv").as("cv"))
      .localCheckpoint()
  }

  /**
   * One deterministic Lloyd refinement of PQ codebooks, the
   * per-subspace analog of [[ivfRefine]]: every (vector, subspace)
   * assigns to its L2-nearest centroid, each centroid moves to its
   * cluster's per-dimension mean (rounded to the 1e-6 grid so
   * distributed-sum reassociation noise cannot flip assignments);
   * centroids that captured nothing keep their sampled position. Same
   * scale shape as encoding — broadcast codebooks, one (sub, code,
   * dim)-keyed aggregation, no corpus² stage.
   */
  def pqRefine(corpus: DataFrame, codebooks: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding",
      m: Int = 4): DataFrame = {
    val dsub = codebooks.select(size(col("cv"))).head.getInt(0)
    val subCols = (0 until m).map(s =>
      struct(lit(s).as("sub"), slice(col("vn"), s * dsub + 1, dsub).as("sv")))
    val subs = withNormalized(corpus, vecCol, "vn")
      .select(col(idCol).as("id"), col("vn"))
      .select(col("id"), explode(array(subCols: _*)).as("b"))
      .select(col("id"), col("b.sub").as("sub"), col("b.sv").as("sv"))
    val assigned = subs.join(broadcast(codebooks), "sub")
      .withColumn("dist",
        dot(col("sv"), col("sv")) + dot(col("cv"), col("cv"))
          - lit(2.0) * dot(col("sv"), col("cv")))
      .groupBy(col("id"), col("sub"))
      .agg(min_by(struct(col("cid"), col("sv")),
        struct(col("dist"), col("cid"))).as("w"))
      .select(col("sub"), col("w.cid").as("code"), col("w.sv").as("sv"))
    val means = assigned
      .select(col("sub"), col("code"), posexplode(col("sv")).as(Seq("pos", "x")))
      .groupBy(col("sub"), col("code"), col("pos"))
      .agg(round(avg(col("x")), 6).as("mn"))
      .groupBy(col("sub"), col("code"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("mn")))),
        s => s.getField("mn")).as("refined"))
    // materialize: the refined table embeds a whole-corpus assignment
    // pass in its lineage, and downstream consumers (encode + LUT +
    // dsub lookups) would each replay it
    codebooks.join(means,
        codebooks("sub") === means("sub") && col("cid") === col("code"),
        "left")
      .select(codebooks("sub").as("sub"), col("cid"),
        coalesce(col("refined"), col("cv")).as("cv"))
      .localCheckpoint()
  }

  /**
   * PQ encoding (id, sub, code): per subspace, the L2-nearest codebook
   * centroid (ties → lowest cid). mk bytes replace the whole vector —
   * with m=4, k=16 that is 4 nibbles for a 64-dim float vector (64×
   * smaller). One map pass joined against the BROADCAST codebook, argmin
   * folded into a map-side-combined min_by per (id, sub) — a single
   * shuffle of m rows per vector, never a corpus×corpus stage.
   */
  def pqEncode(corpus: DataFrame, codebooks: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding",
      m: Int = 4): DataFrame = {
    val dsub = codebooks.select(size(col("cv"))).head.getInt(0)
    val subCols = (0 until m).map(s =>
      struct(lit(s).as("sub"), slice(col("vn"), s * dsub + 1, dsub).as("sv")))
    val subs = withNormalized(corpus, vecCol, "vn")
      .select(col(idCol).as("id"), col("vn"))
      .select(col("id"), explode(array(subCols: _*)).as("b"))
      .select(col("id"), col("b.sub").as("sub"), col("b.sv").as("sv"))
    subs.join(broadcast(codebooks), "sub")
      .withColumn("dist",
        dot(col("sv"), col("sv")) + dot(col("cv"), col("cv"))
          - lit(2.0) * dot(col("sv"), col("cv")))
      .groupBy(col("id"), col("sub"))
      .agg(min_by(col("cid"), struct(col("dist"), col("cid"))).as("code"))
  }

  /**
   * PQ top-k via asymmetric distance computation: the query stays
   * full-precision; each (sub, centroid) partial dot against the query's
   * sub-vector forms an m×k lookup table (broadcast), and a vector's
   * score is the sum of its codes' partials — approximates cosine
   * without touching the original vectors. Scale shape: encode once and
   * persist (like the IVF assignment); a search then reads mk-byte codes
   * instead of the 100 TB float corpus.
   */
  def pqTopK(corpus: DataFrame, query: DataFrame, topK: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      m: Int = 4, k: Int = 16, lloyd: Int = 0,
      modulus: Option[Long] = None): DataFrame = {
    var cb = pqCodebooks(corpus, idCol, vecCol, m, k, modulus)
    (0 until lloyd).foreach(_ => cb = pqRefine(corpus, cb, idCol, vecCol, m))
    val enc = pqEncode(corpus, cb, idCol, vecCol, m)
    adcTopK(enc, pqLut(cb, query, vecCol, m), m, idCol, topK)
  }

  /**
   * Batch [[pqTopK]] — one encode pass serves every query in the
   * batch: the LUT grows to m×k×nq rows (still broadcast-size), ADC
   * partials group by (qid, id), and the top-k boundary becomes a
   * per-qid ranking window. The corpus-side cost is unchanged from the
   * single-query path (sample, encode once); batch size multiplies
   * only broadcast rows — the shape every recall gate's approximate
   * side shares ([[lshTopKBatch]], [[quantizedTopKBatch]]).
   */
  def pqTopKBatch(corpus: DataFrame, queries: DataFrame, topK: Int,
      idCol: String = "vec_id", qidCol: String = "qid",
      vecCol: String = "embedding", m: Int = 4, k: Int = 16,
      lloyd: Int = 0, modulus: Option[Long] = None): DataFrame = {
    var cb = pqCodebooks(corpus, idCol, vecCol, m, k, modulus)
    (0 until lloyd).foreach(_ => cb = pqRefine(corpus, cb, idCol, vecCol, m))
    val enc = pqEncode(corpus, cb, idCol, vecCol, m)
    val dsub = cb.select(size(col("cv"))).head.getInt(0)
    val qsubCols = (0 until m).map(s =>
      struct(lit(s).as("sub"), slice(col("qn"), s * dsub + 1, dsub).as("qv")))
    val qsubs = withNormalized(
        queries.select(col(qidCol).as("_qid"), col(vecCol)), vecCol, "qn")
      .select(col("_qid"), explode(array(qsubCols: _*)).as("b"))
      .select(col("_qid"), col("b.sub").as("lsub"), col("b.qv").as("qv"))
    val lut = cb.join(broadcast(qsubs), col("sub") === col("lsub"))
      .select(col("_qid"), col("lsub"), col("cid"),
        dot(col("cv"), col("qv")).as("pd"))
    // fixed-order partial sum per subspace, exactly [[adcTopK]]'s move
    val partials = (0 until m).map(s =>
      sum(when(col("sub") === s, col("pd"))).as(s"p$s"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("_qid")).orderBy(col("score").desc, col(idCol))
    enc.join(broadcast(lut),
        col("sub") === col("lsub") && col("code") === col("cid"))
      .groupBy(col("_qid"), col("id"))
      .agg(partials.head, partials.tail: _*)
      .select(col("_qid"), col("id").as(idCol),
        (0 until m).map(s => col(s"p$s")).reduce(_ + _).as("score"))
      .withColumn("rn", row_number().over(w)).where(col("rn") <= topK)
      .select(col("_qid").as(qidCol), col(idCol), col("score"))
  }

  /** The query-side m×k ADC lookup table (lsub, cid, pd): each codebook
    * centroid's partial dot against the query's matching sub-vector.
    * Tiny (m×k rows) — always broadcast by consumers. */
  private def pqLut(cb: DataFrame, query: DataFrame, vecCol: String,
      m: Int): DataFrame = {
    val dsub = cb.select(size(col("cv"))).head.getInt(0)
    val qsubCols = (0 until m).map(s =>
      struct(lit(s).as("sub"), slice(col("qn"), s * dsub + 1, dsub).as("qv")))
    val qsubs = withNormalized(query, vecCol, "qn")
      .select(explode(array(qsubCols: _*)).as("b"))
      .select(col("b.sub").as("lsub"), col("b.qv").as("qv"))
    cb.join(broadcast(qsubs), col("sub") === col("lsub"))
      .select(col("lsub"), col("cid"), dot(col("cv"), col("qv")).as("pd"))
  }

  /** ADC scoring of (id, sub, code) rows against a broadcast [[pqLut]].
    * The score must be a FIXED-ORDER sum: a plain sum() aggregates the m
    * partials in partition-arrival order, and that reassociation noise
    * is enough to flip near-tied rows across the top-k boundary (and
    * across engines). Pivot each subspace's partial into its own column
    * (each a sum over exactly one row — exact) and add left-to-right:
    * bit-identical every run and replayable verbatim in SQL. */
  private def adcTopK(enc: DataFrame, lut: DataFrame, m: Int,
      idCol: String, topK: Int): DataFrame = {
    val partials = (0 until m).map(s =>
      sum(when(col("sub") === s, col("pd"))).as(s"p$s"))
    enc.join(broadcast(lut),
        col("sub") === col("lsub") && col("code") === col("cid"))
      .groupBy(col("id"))
      .agg(partials.head, partials.tail: _*)
      .select(col("id").as(idCol),
        (0 until m).map(s => col(s"p$s")).reduce(_ + _).as("score"))
      .orderBy(col("score").desc, col(idCol))
      .limit(topK)
  }

  /**
   * Composed IVF + PQ search — the standard large-scale ANN serving
   * shape: the IVF coarse quantizer prunes the corpus to the query's
   * `nprobe` nearest cells, and PQ asymmetric-distance scoring ranks
   * ONLY those cells' members from their mk-byte codes. Scale shape:
   * persist the cell assignment partitioned by `cell` and the codes
   * alongside it; a query then broadcasts the nlist centroids, the
   * query's cell list, the m×k codebooks, and the m×k LUT — the only
   * non-broadcast data touched is the probed cells' rows, and nothing
   * larger than that candidate set ever shuffles. The geometry scales
   * with the corpus by default ([[nlistFor]]/[[nprobeFor]] — a fixed
   * nlist would make each probed cell a constant FRACTION of the
   * corpus); the codebook size `k` stays fixed (it is the code
   * alphabet — 4-bit nibbles — not a partitioning). Training uses
   * deterministic XHash-sampled rows for both halves ([[ivfCentroids]]
   * at n/nlist, [[pqCodebooks]] at n/k), so a SQL oracle replays the
   * whole pipeline: cells, pruning, encoding, LUT, fixed-order sum.
   */
  def ivfpqTopK(corpus: DataFrame, query: DataFrame, topK: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      nlist: Int = DeriveNlist, nprobe: Int = DeriveNprobe,
      m: Int = 4, k: Int = 16, lloyd: Int = 0,
      modulus: Option[Long] = None,
      cbModulus: Option[Long] = None): DataFrame = {
    val nl = if (nlist == DeriveNlist) nlistFor(estimatedRows(corpus))
      else nlist
    val np = if (nprobe == DeriveNprobe) nprobeFor(nl) else nprobe
    // `lloyd` refines BOTH halves: the coarse centroids via [[ivfRefine]]
    // (cell means) and the codebooks via [[pqRefine]] ((sub, code) means)
    // — each from its deterministic sample, diverging by training
    var centroids = ivfCentroids(corpus, idCol, vecCol, nl, modulus)
    (0 until lloyd).foreach(_ =>
      centroids = ivfRefine(corpus, centroids, idCol, vecCol))
    // (id, vn, cell): the persisted artifact at production scale — vn is
    // bit-identical to the normalization pqEncode would compute, so
    // encoding from it replays exactly
    val assigned = ivfAssign(corpus, centroids, idCol, vecCol)
    var cb = pqCodebooks(corpus, idCol, vecCol, m, k, cbModulus)
    (0 until lloyd).foreach(_ => cb = pqRefine(corpus, cb, idCol, vecCol, m))
    val dsub = cb.select(size(col("cv"))).head.getInt(0)
    val qCells = broadcast(
      withNormalized(query, vecCol, "qn").select(col("qn"))
        .crossJoin(broadcast(centroids))
        .select(col("cid"), dot(col("qn"), col("cv")).as("d"))
        .orderBy(col("d").desc, col("cid"))
        .limit(np)
        .select(col("cid").as("cell")))
    // cell pruning: with `assigned` persisted partitioned by cell this is
    // partition pruning; here it is a broadcast join — either way the
    // corpus never shuffles
    val pruned = assigned.join(qCells, Seq("cell"))
    val subCols = (0 until m).map(s =>
      struct(lit(s).as("sub"), slice(col("vn"), s * dsub + 1, dsub).as("sv")))
    val subs = pruned.select(col("id"), explode(array(subCols: _*)).as("b"))
      .select(col("id"), col("b.sub").as("sub"), col("b.sv").as("sv"))
    // encode ONLY the pruned rows against the broadcast codebooks (at
    // scale the codes are precomputed — [[ivfpqEncode]] — and the search
    // reads them partition-pruned; encoding the candidates inline keeps
    // this self-contained without a whole-corpus encode pass)
    val enc = subs.join(broadcast(cb), "sub")
      .withColumn("dist",
        dot(col("sv"), col("sv")) + dot(col("cv"), col("cv"))
          - lit(2.0) * dot(col("sv"), col("cv")))
      .groupBy(col("id"), col("sub"))
      .agg(min_by(col("cid"), struct(col("dist"), col("cid"))).as("code"))
    adcTopK(enc, pqLut(cb, query, vecCol, m), m, idCol, topK)
  }

  /**
   * Build the PERSISTABLE IVF+PQ serving artifact: one row per
   * (vector, subspace) carrying the cell and the code — write it
   * `partitionBy("cell")` and every [[ivfpqTopKEncoded]] search becomes
   * a partition-pruned read of mk-byte codes; the float corpus is never
   * opened again. The per-crawl build step of the serving story, like
   * the index build or the dedup signature store.
   */
  def ivfpqEncode(corpus: DataFrame, centroids: DataFrame, cb: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding",
      m: Int = 4): DataFrame = {
    val dsub = cb.select(size(col("cv"))).head.getInt(0)
    val subCols = (0 until m).map(s =>
      struct(lit(s).as("sub"), slice(col("vn"), s * dsub + 1, dsub).as("sv")))
    val subs = ivfAssign(corpus, centroids, idCol, vecCol)
      .select(col("id"), col("cell"), explode(array(subCols: _*)).as("b"))
      .select(col("id"), col("cell"), col("b.sub").as("sub"),
        col("b.sv").as("sv"))
    subs.join(broadcast(cb), "sub")
      .withColumn("dist",
        dot(col("sv"), col("sv")) + dot(col("cv"), col("cv"))
          - lit(2.0) * dot(col("sv"), col("cv")))
      .groupBy(col("id"), col("cell"), col("sub"))
      .agg(min_by(col("cid"), struct(col("dist"), col("cid"))).as("code"))
  }

  /**
   * Skew guard for the `partitionBy("cell")` code-table write. A bare
   * `partitionBy` spray-writes one file per (task × cell) — at 10⁹
   * vectors with nlist=16384 that is ~half a million files — while the
   * obvious fix, `repartition(col("cell"))`, hands each whole cell to
   * one task: a skewed cell (duplicate-heavy corpora collapse many
   * vectors onto one centroid) becomes a straggler that single-handedly
   * writes a corpus-fraction-sized file. This bounds both failure
   * modes: a per-cell row count (an nlist-row agg, collected like the
   * probe-cell literals) derives `splits = ceil(rows / targetRows)` per
   * cell, and the shuffle keys on (cell, xxhash64(id) % splits) with an
   * EXPLICIT partition count of Σ splits — explicit so AQE cannot
   * coalesce the fan-out away (its byte heuristics would undo exactly
   * the skew split this exists to force). A balanced cell still lands
   * in one task/file, an oversized cell fans out across the task count
   * its row count requires, and total file count stays ~nlist +
   * Σ extra-splits-for-fat-cells. Row content is untouched: searches
   * over a guarded layout are identical to the bare one.
   */
  def boundedCellLayout(enc: DataFrame,
      targetRows: Long = 4L << 20): DataFrame = {
    val spark = enc.sparkSession
    import spark.implicits._
    val counts = enc.groupBy(col("cell")).count().collect()
      .map(r => (r.getLong(0),
        math.max(1L, (r.getLong(1) + targetRows - 1) / targetRows)))
    val total = math.max(1L, counts.map(_._2).sum).min(1L << 18).toInt
    val splits = counts.toSeq.toDF("cell", "splits")
    enc.join(broadcast(splits), "cell")
      .repartition(total, col("cell"),
        pmod(xxhash64(col("id")), col("splits")))
      .drop("splits")
  }

  /**
   * Search the persisted [[ivfpqEncode]] artifact: the broadcast
   * centroids pick the query's nprobe cells, a LITERAL IN over the
   * cell column prunes the code table — on a `partitionBy("cell")`
   * layout that is STATIC partition pruning: the planner never lists,
   * let alone reads, the other cells' files — and the broadcast
   * [[pqLut]] scores what remains. The cell list is a deliberate
   * driver-side collect of ≤ nprobe values (one tiny job over the
   * broadcast centroids — nlist rows), chosen over a join so pruning
   * doesn't depend on dynamic-partition-pruning heuristics firing. No
   * corpus access, no shuffle wider than the probed cells' code rows.
   */
  def ivfpqTopKEncoded(encoded: DataFrame, centroids: DataFrame,
      cb: DataFrame, query: DataFrame, topK: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      m: Int = 4, nprobe: Int = DeriveNprobe): DataFrame = {
    // derive nprobe from the persisted centroid table when not pinned
    // (~nlist rows — tiny read); callers holding the intended nlist
    // should pass nprobeFor(nlist)
    val np = if (nprobe == DeriveNprobe) nprobeFor(nlistFromCount(centroids.count()))
      else nprobe
    val cells = withNormalized(query, vecCol, "qn").select(col("qn"))
      .crossJoin(broadcast(centroids))
      .select(col("cid"), dot(col("qn"), col("cv")).as("d"))
      .orderBy(col("d").desc, col("cid"))
      .limit(np)
      .select(col("cid"))
      .collect().map(_.get(0)).toSeq
    val enc = encoded.filter(col("cell").isin(cells: _*))
      .select(col("id"), col("sub"), col("code"))
    adcTopK(enc, pqLut(cb, query, vecCol, m), m, idCol, topK)
  }

  /**
   * BATCH search of the persisted [[ivfpqEncode]] artifact — the
   * production serving shape for a query TABLE instead of a per-query
   * job loop. Per query: the broadcast centroids pick its nprobe cells
   * (ranking window instead of LIMIT); the UNION of all probed cells,
   * collected as ≤ |queries|×nprobe literal values (a tiny job over
   * queries×centroids — deliberate, so static partition pruning never
   * depends on DPP heuristics firing), prunes the code table exactly as
   * in the single-query path. Candidates then form by broadcast-joining
   * the codes to the per-query cell map, score against a broadcast
   * per-query ADC LUT (|queries|×m×k rows), and rank per query with a
   * window. Scale shape: the code table never shuffles — the only
   * shuffles are the (qid, id) partial-sum aggregation and the ranking
   * window, both over probed-candidate rows only. Query batches are
   * assumed serving-sized (≤ ~10⁵ rows — the qCells and LUT broadcasts
   * are |queries|×nprobe and |queries|×m×k rows); for corpus-sized
   * query sets use [[knnJoin]], the bulk all-pairs shape.
   *
   * Per-query results are IDENTICAL to [[ivfpqTopKEncoded]] at the same
   * geometry: same cell choice (dot-desc, cid tiebreak), same codes,
   * same fixed-order score sum, same (score desc, id) ranking.
   */
  /**
   * Exact RE-RANK of a per-query candidate table — the second stage of
   * the standard two-stage serving shape (ADC shortlists top-C, exact
   * distances re-order the shortlist and keep top-k): join the
   * candidates back to the float corpus BY ID (the only rows whose
   * vectors are ever re-opened — at scale a keyed point-lookup of C
   * rows per query, never a corpus scan), broadcast the normalized
   * queries, score with the exact dot, rank per query. The per-qid
   * window is bounded by C rows by construction.
   */
  def rerankExact(cand: DataFrame, corpus: DataFrame, queries: DataFrame,
      k: Int, idCol: String = "vec_id", qidCol: String = "qid",
      vecCol: String = "embedding"): DataFrame = {
    val nn = withNormalized(corpus, vecCol, "vn")
      .select(col(idCol), col("vn"))
    val qn = broadcast(withNormalized(queries, vecCol, "qn")
      .select(col(qidCol), col("qn")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(qidCol))
      .orderBy(col("score").desc, col(idCol))
    cand.select(col(qidCol), col(idCol))
      .join(nn, Seq(idCol))
      .join(qn, Seq(qidCol))
      .select(col(qidCol), col(idCol), dot(col("vn"), col("qn")).as("score"))
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") <= k).drop("__rn")
  }

  def ivfpqTopKEncodedBatch(encoded: DataFrame, centroids: DataFrame,
      cb: DataFrame, queries: DataFrame, topK: Int,
      idCol: String = "vec_id", qidCol: String = "qid",
      vecCol: String = "embedding", m: Int = 4,
      nprobe: Int = DeriveNprobe): DataFrame = {
    val np = if (nprobe == DeriveNprobe) nprobeFor(nlistFromCount(centroids.count()))
      else nprobe
    val qn = withNormalized(queries, vecCol, "qn")
      .select(col(qidCol).as("_qid"), col("qn"))
    // per-query probed cells: the single-query orderBy/limit becomes a
    // per-qid ranking window over the same (dot desc, cid) order
    val cw = org.apache.spark.sql.expressions.Window
      .partitionBy(col("_qid")).orderBy(col("d").desc, col("cid"))
    val qCells = qn.crossJoin(broadcast(centroids))
      .select(col("_qid"), col("qn"), col("cid"),
        dot(col("qn"), col("cv")).as("d"))
      .withColumn("rn", row_number().over(cw)).where(col("rn") <= np)
      .select(col("_qid"), col("qn"), col("cid").as("cell"))
      // materialize: the cell map feeds the literal-IN collect, the
      // candidate join, and (via qn) the LUT — three consumers that
      // would each replay the queries×centroids ranking
      .localCheckpoint()
    val cells = qCells.select(col("cell")).distinct()
      .collect().map(_.get(0)).toSeq
    // per-query ADC LUT: (qid, sub, code) → partial dot. |queries|×m×k
    // rows — broadcast-sized for serving batches
    val dsub = cb.select(size(col("cv"))).head.getInt(0)
    val qsubCols = (0 until m).map(s =>
      struct(lit(s).as("sub"), slice(col("qn"), s * dsub + 1, dsub).as("qv")))
    val qsubs = qCells.select(col("_qid"), col("qn")).distinct()
      .select(col("_qid"), explode(array(qsubCols: _*)).as("b"))
      .select(col("_qid").as("lqid"), col("b.sub").as("lsub"),
        col("b.qv").as("qv"))
    val lut = qsubs.join(broadcast(cb), col("lsub") === col("sub"))
      .select(col("lqid"), col("lsub"), col("cid"),
        dot(col("cv"), col("qv")).as("pd"))
    // candidates: statically pruned codes × the broadcast cell map —
    // each corpus id lives in exactly one cell, so (qid, id) is unique
    val cand = encoded.filter(col("cell").isin(cells: _*))
      .join(broadcast(qCells.select(col("_qid"), col("cell"))), Seq("cell"))
      .select(col("_qid"), col("id"), col("sub"), col("code"))
    // fixed-order score sum per (qid, id) — the [[adcTopK]] pivot with
    // the qid key added, then the per-query ranking window
    val partials = (0 until m).map(s =>
      sum(when(col("sub") === s, col("pd"))).as(s"p$s"))
    val rw = org.apache.spark.sql.expressions.Window
      .partitionBy(col("_qid")).orderBy(col("score").desc, col(idCol))
    cand.join(broadcast(lut),
        col("_qid") === col("lqid") && col("sub") === col("lsub") &&
          col("code") === col("cid"))
      .groupBy(col("_qid"), col("id"))
      .agg(partials.head, partials.tail: _*)
      .select(col("_qid"), col("id").as(idCol),
        (0 until m).map(s => col(s"p$s")).reduce(_ + _).as("score"))
      .withColumn("rank", row_number().over(rw)).where(col("rank") <= topK)
      .select(col("_qid").as(qidCol), col(idCol), col("score"))
  }

  /**
   * Symmetric int8 quantization of an embedding column: per-vector scale
   * 127/max|x|, q_i = floor(x_i·scale + 0.5) — EXPLICIT half-up rounding
   * (floor(+0.5)) so any SQL engine reproduces it; round() would hit
   * HALF_EVEN/HALF_UP disagreements. 4× smaller than float32 at rest —
   * at a 100 TB embedding table that's the difference between fitting in
   * cluster memory or not. COSINE is scale-invariant, so quantized
   * cosine needs no dequantization: cos(q_a, q_b) ≈ cos(a, b).
   */
  def quantize8(v: Column): Column =
    org.apache.spark.sql.graft.bridge.column(
      graft.functions.ArrayQuantize8(
        org.apache.spark.sql.graft.bridge.expression(v)))

  /** The HOF formulation [[quantize8]]'s native expression replaces —
    * identical arithmetic, but the interpreter runs per ELEMENT (twice:
    * the max pass and the emit pass), which made int8 brute force
    * slower than full precision. Kept for the equivalence spec. */
  private[graft] def quantize8Hof(v: Column): Column = {
    val mx = greatest(array_max(transform(v, x => abs(x.cast("double")))),
      lit(1e-30))
    transform(v, x =>
      floor(x.cast("double") * (lit(127.0) / mx) + lit(0.5)).cast("tinyint"))
  }

  /**
   * Brute-force cosine top-k over int8-quantized vectors: the same plan
   * shape as [[bruteForceTopK]] but each dot touches a quarter of the
   * bytes (the native expressions widen integral elements per-element).
   */
  def quantizedTopK(corpus: DataFrame, query: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val c = corpus.select(col(idCol), quantize8(col(vecCol)).as("qv"))
    val q = broadcast(query.select(quantize8(col(vecCol)).as("qq")))
    c.join(q)
      .select(col(idCol), cosine(col("qv"), col("qq")).as("cos"))
      .orderBy(col("cos").desc, col(idCol))
      .limit(k)
  }

  /** Batch [[quantizedTopK]] — one quantized corpus pass scores every
    * broadcast query, per-query ranking window (the
    * [[bruteForceTopKBatch]] shape over int8). */
  def quantizedTopKBatch(corpus: DataFrame, queries: DataFrame, k: Int,
      idCol: String = "vec_id", qidCol: String = "qid",
      vecCol: String = "embedding"): DataFrame = {
    val q = broadcast(queries.select(col(qidCol).as("_qid"),
      quantize8(col(vecCol)).as("qq")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("_qid")).orderBy(col("cos").desc, col(idCol))
    corpus.select(col(idCol), quantize8(col(vecCol)).as("qv"))
      .join(q)
      .select(col("_qid"), col(idCol), cosine(col("qv"), col("qq")).as("cos"))
      .withColumn("rank", row_number().over(w)).where(col("rank") <= k)
      .select(col("_qid").as(qidCol), col(idCol), col("cos"))
  }

  /**
   * Embedding-cosine near-dup pairs: sign-bucket join (pairs only form
   * within a bucket), exact cosine verify ≥ minCos.
   *
   * In-bucket pair generation goes through the SAME two-regime machinery
   * as the text near-dup paths ([[graft.dedup.Dedup.bucketPairs]]):
   * normal buckets expand pairs from one sorted per-bucket array; any
   * bucket past `heavyBucket` streams its pairs through a sort-merge
   * self-join instead. That regime split is what survives skew at corpus
   * scale — embeddings with a dominant direction (common: normalized
   * text embeddings cluster on the hypersphere) pile into ONE sign
   * bucket, and a plain self-join would hand that bucket's quadratic
   * blow-up to a single task. `maxBucket` remains the explicit opt-in
   * recall-for-boundedness cap; size it with [[embedBucketStats]].
   */
  def cosinePairs(corpus: DataFrame, minCos: Double,
      idCol: String = "vec_id", vecCol: String = "embedding",
      bits: Int = DeriveBits,
      heavyBucket: Int = graft.dedup.Dedup.HeavyBucket,
      maxBucket: Option[Int] = None): DataFrame = {
    // Default bucket width scales with the corpus, sized from plan
    // statistics (no extra data pass) at the quadratic-path target;
    // pass bits explicitly to pin the geometry.
    val bb = if (bits == DeriveBits)
      bucketBitsFor(estimatedRows(corpus), QuadraticTargetBucket) else bits
    // Rebalance on id first (input may be a single split) so the one
    // normalization pass parallelizes; the item struct leads with the id,
    // so struct ordering == id ordering (ids are unique) and the emitted
    // pairs keep the vec_a < vec_b convention.
    val keyed = withNormalized(corpus.repartition(col(idCol)), vecCol, "vn")
      .select(signBucket(col(vecCol), bb).as("b"),
        struct(col(idCol).as("id"), col("vn").as("v")).as("item"))
    graft.dedup.Dedup.bucketPairs(keyed, Seq("b"), heavyBucket, maxBucket)
      .select(col("a.id").as("vec_a"), col("b.id").as("vec_b"),
        dot(col("a.v"), col("b.v")).as("cos"))
      .where(col("cos") >= minCos)
  }

  /**
   * SemDeDup-style SEMANTIC dedup (Abbas et al. 2023, arXiv:2303.09540):
   * cluster the corpus with the derived-geometry IVF assignment, then
   * within each cluster drop every vector that has a lower-id neighbor
   * at cosine >= minCos. Exact dedup catches byte-identical docs and
   * MinHash catches lexical overlap; this catches paraphrase-level
   * redundancy an embedding sees but n-grams miss. Cluster-scoped by
   * design (the paper's move): pairs are scored only within a cell, so
   * the pair join costs Σ cell² over ~√n/4 derived cells (~linear
   * overall) instead of n². The in-cell join reuses
   * [[graft.dedup.Dedup.bucketPairs]]'s small/heavy-bucket regimes —
   * a duplicate-collapsed fat cell takes the distributed sort-merge
   * path instead of exploding one task's collect_set. Returns the KEPT
   * ids (lowest id of every near-dup group survives, greedily).
   */
  /** The house semantic-dedup cosine threshold, shared by every caller
    * (the registry query, its oracle generator, and the corpus
    * pipeline) so the Spark and SQL sides cannot drift. 0.35 matches
    * dedup_embed's near-dup bar on this synthetic embedding corpus. */
  val SemDedupMinCos = 0.35

  /**
   * SEMANTIC decontamination (SURVEY row 103): flag every training
   * vector whose cosine to ANY eval vector reaches `minCos` — the
   * embedding-space leg of the decontamination story (row 38's n-gram
   * overlap catches verbatim leakage; paraphrased eval material shares
   * no shingles but sits next to the eval doc in embedding space).
   *
   * EXACT, not approximate: the eval matrix is eval-bounded (the
   * ANN-LUT bounded-collect argument — thousands of rows, never the
   * corpus), rides the plan once, and ONE corpus pass computes every
   * dot through the fused [[graft.functions.ArrayDotBatch]] kernel —
   * no join, no shuffle; the threshold test is a native array_max.
   * Because it is exact there is no recall floor to gate; at an eval
   * suite large enough to strain the per-row kernel (≫10⁴ vectors)
   * the scale path is the IVF prune ([[semanticDedup]]'s cell
   * machinery) in front of the same exact test. Output: the flagged
   * ids with how many eval vectors they hit and the max cosine.
   */
  def semanticDecontam(corpus: DataFrame, evalPred: Column,
      minCos: Double = SemDedupMinCos, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val n = withNormalized(corpus, vecCol, "vn")
    val evalM: Seq[Seq[Double]] = n.where(evalPred)
      .orderBy(col(idCol)).select(col("vn"))
      .collect().toSeq.map(_.getSeq[Double](0).toSeq)
    require(evalM.nonEmpty, "semanticDecontam: empty eval side")
    val dots = org.apache.spark.sql.graft.bridge.column(
      graft.functions.ArrayDotBatch(
        org.apache.spark.sql.graft.bridge.expression(col("vn")), evalM))
    n.where(!evalPred)
      .select(col(idCol), dots.as("dots"))
      .where(array_max(col("dots")) >= minCos)
      // the count HOF runs only on the flagged survivors (rare), never
      // the corpus — the hot path above is all native kernels
      .select(col(idCol),
        size(filter(col("dots"), d => d >= lit(minCos)))
          .cast("long").as("n_hits"),
        array_max(col("dots")).as("max_cos"))
  }

  /**
   * IVF-PRUNED semantic decontamination (SURVEY row 109, r14 verdict
   * item 5): [[semanticDecontam]]'s exact test behind a PROVABLY
   * LOSSLESS cell prune — the escalation row 103 documented for eval
   * suites big enough (≫10⁴ vectors) that running the batch kernel
   * over every corpus row is wasteful when most cells sit nowhere near
   * eval space.
   *
   * The prune is the spherical triangle inequality, not a heuristic:
   * every corpus vector x lives in an IVF cell with centroid c and the
   * cell's RADIUS r_c = max member angle to c (one min-dot aggregate
   * over the assignment). If angle(x, e) ≤ θ = arccos(minCos) for some
   * eval vector e, then angle(c, e) ≤ angle(c, x) + angle(x, e) ≤
   * r_c + θ — so probing exactly the cells with
   * max_e dot(c, e) ≥ cos(min(π, r_c + θ)) − ε cannot lose a flagged
   * row (ε = 1e-9 absorbs float rounding in the SAFE direction: it
   * only ever probes MORE cells). The flagged set — and every output
   * value — is therefore IDENTICAL to the unpruned form, which is why
   * the gate's oracle IS row 103's unpruned cross-join replay
   * (AnnSpec additionally pins pruned ≡ unpruned and that the prune
   * genuinely skips cells on the gate corpus).
   *
   * Scale shape: centroids are the hash-sampled ~√n broadcast
   * ([[ivfCentroids]]); assignment is one linear pass; radius is one
   * groupBy(cell) over it; the probe decision runs on the ≤nlist
   * centroid rows against the eval-bounded matrix; the exact kernel
   * then touches ONLY probed-cell members. Worst case (eval space
   * covering all cells) degrades to row 103's full pass plus the
   * assignment — never worse than quadratic in anything.
   */
  def semanticDecontamPruned(corpus: DataFrame, evalPred: Column,
      minCos: Double = SemDedupMinCos, idCol: String = "vec_id",
      vecCol: String = "embedding", nlist: Int = DeriveNlist,
      modulus: Option[Long] = None): DataFrame = {
    val (asg, probed, evalM) =
      decontamProbe(corpus, evalPred, minCos, idCol, vecCol, nlist, modulus)
    val dots = org.apache.spark.sql.graft.bridge.column(
      graft.functions.ArrayDotBatch(
        org.apache.spark.sql.graft.bridge.expression(col("vn")), evalM))
    asg.join(broadcast(probed), Seq("cell"), "leftsemi")
      .select(col("id").as(idCol), dots.as("dots"))
      .where(array_max(col("dots")) >= minCos)
      .select(col(idCol),
        size(filter(col("dots"), d => d >= lit(minCos)))
          .cast("long").as("n_hits"),
        array_max(col("dots")).as("max_cos"))
  }

  /** The prune decision of [[semanticDecontamPruned]], exposed so the
    * spec can measure it: (cell assignment of the non-eval corpus,
    * the probed-cell set, the collected eval matrix). On a corpus
    * with CLUSTER structure the bound skips the far cells; on an
    * isotropic corpus (cell radii ≈ 90°, e.g. this repo's synthetic
    * embeddings) it degrades gracefully to the full pass — correct
    * either way, paying off exactly when real embeddings do. */
  private[graft] def decontamProbe(corpus: DataFrame, evalPred: Column,
      minCos: Double, idCol: String, vecCol: String, nlist: Int,
      modulus: Option[Long]): (DataFrame, DataFrame, Seq[Seq[Double]]) = {
    val n = withNormalized(corpus, vecCol, "vn")
    val evalM: Seq[Seq[Double]] = n.where(evalPred)
      .orderBy(col(idCol)).select(col("vn"))
      .collect().toSeq.map(_.getSeq[Double](0).toSeq)
    require(evalM.nonEmpty, "semanticDecontamPruned: empty eval side")
    val train = corpus.where(!evalPred)
    val cents = ivfCentroids(train, idCol, vecCol, nlist, modulus)
    val asg = ivfAssign(train, cents, idCol, vecCol).localCheckpoint()
    val clamp = (c: Column) => greatest(lit(-1.0), least(lit(1.0), c))
    val rad = asg.join(broadcast(cents.select(
        col("cid").as("cell"), col("cv"))), Seq("cell"))
      .select(col("cell"), dot(col("vn"), col("cv")).as("dc"))
      .groupBy(col("cell")).agg(min(col("dc")).as("min_dc"))
    val centDots = org.apache.spark.sql.graft.bridge.column(
      graft.functions.ArrayDotBatch(
        org.apache.spark.sql.graft.bridge.expression(col("cv")), evalM))
    val probed = cents.select(col("cid").as("cell"),
        array_max(centDots).as("me"))
      .join(rad, Seq("cell"))
      .where(col("me") >=
        cos(least(lit(math.Pi),
          acos(clamp(col("min_dc"))) + lit(math.acos(minCos)))) -
          lit(1e-9))
      .select(col("cell"))
    (asg, probed, evalM)
  }

  def semanticDedup(corpus: DataFrame, minCos: Double,
      idCol: String = "vec_id", vecCol: String = "embedding",
      nlist: Int = DeriveNlist, modulus: Option[Long] = None): DataFrame = {
    val centroids = ivfCentroids(corpus, idCol, vecCol, nlist, modulus)
    val asg = ivfAssign(corpus, centroids, idCol, vecCol)
    // item struct leads with the id, so bucketPairs' struct ordering
    // emits pairs with a.id < b.id (ids are unique)
    val keyed = asg.select(col("cell"),
      struct(col("id"), col("vn").as("v")).as("item"))
    val dups = graft.dedup.Dedup.bucketPairs(keyed, Seq("cell"),
        graft.dedup.Dedup.HeavyBucket, None)
      .where(dot(col("a.v"), col("b.v")) >= minCos)
      .select(col("b.id").as(idCol)).distinct()
    // survivors = all ids minus the dropped set: read the id column off
    // the RAW corpus (a column-pruned scan) rather than replaying the
    // corpus × centroids assignment a second time just for its ids
    corpus.select(col(idCol)).join(dups, Seq(idCol), "left_anti")
  }

  /**
   * Per-bucket population histogram of the sign-bucket geometry — the
   * [[graft.dedup.Dedup.bucketStats]] analog for embeddings. Run BEFORE
   * a corpus-scale [[cosinePairs]] job: the largest bucket bounds the
   * worst pair-expansion task, so this is how `bits`, `heavyBucket`, and
   * any `maxBucket` cap get sized. Output: (bucket_size, n_buckets).
   */
  def embedBucketStats(corpus: DataFrame, vecCol: String = "embedding",
      bits: Int = DeriveBits): DataFrame = {
    val bb = if (bits == DeriveBits)
      bucketBitsFor(estimatedRows(corpus), QuadraticTargetBucket) else bits
    corpus.select(signBucket(col(vecCol), bb).as("b"))
      .groupBy(col("b")).agg(count(lit(1)).as("bucket_size"))
      .groupBy(col("bucket_size")).agg(count(lit(1)).as("n_buckets"))
  }
}
