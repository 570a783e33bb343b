package graft.ann

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * LEARNED dimension permutation for product quantization — the
 * balanced-variance allocation rung of OPQ (Ge et al. CVPR'13 §3 treat
 * dimension re-ordering as the natural baseline solution of their
 * balanced-subspace objective; "Optimized PQ" generalizes it to full
 * rotations). Dims rank by corpus variance and deal round-robin into
 * the m subspaces, so no subspace hoards the energy.
 *
 * Why this exists NEXT TO the H·D rotation (graft.ann.Opq): the
 * rotation provably cannot move RECALL on axis-aligned variance with
 * sampled codebooks (the AnnSpec inertness theorem — every rotated
 * subspace elects the same latent sample), so its gate pins variance
 * balance only. A permutation REGROUPS the original coordinates
 * instead of mixing them, so per-subspace elections genuinely change —
 * and recall measurably MORE THAN DOUBLES on the anisotropic fixture
 * (SURVEY.md §2 row 93: 40→86 of 200 at sf0.01, 41→86 at sf0.001,
 * 42→82 at the 10× dir's deduplicated population). This is the
 * recall-floor-able transform the r12 verdict asked the rotation to be.
 *
 * Exactness: the ranking is pure integer arithmetic — per-dim energy
 * n·Σq² − (Σq)² over q = floor(10⁶·x), accumulated in decimal(38,0)
 * (int64 overflows: q reaches ~8·10⁶ on the boosted fixture, so n·Σq²
 * passes 2⁶³ already at thousands of rows; 38 digits cover 10¹² rows) —
 * DuckDB's HUGEINT replays it exactly, ties break on dim index, and
 * the permutation itself rides the plan as one 64-element array (no
 * driver collect; the rank window sits over a 64-row aggregate).
 *
 * Scale shape: ONE corpus pass (posexplode → 64-group integer sums),
 * then a 64-row window and a broadcast of the single perm row; the
 * apply is a per-row projection. Same artifact story as IVF geometry:
 * a 100 TB corpus learns 64 integers.
 */
object Permute {

  /** Embedding width / subspace count this allocation is generated
    * for (the corpus's PQ geometry: m=4 over 64 dims). */
  val Dim = 64
  val Subs = 4

  /** Quantization clamp: coordinates saturate at ±ClampAbs before the
    * 10⁶ scaling. Covers the 8× anisotropic boost fixture with slack;
    * keeps q ≤ 1.6·10⁷ so q² fits int64 and n·Σq² fits decimal(38,0)
    * up to ~6·10¹¹ rows. */
  val ClampAbs = 16.0

  /** The learned permutation as ONE row (column `perm`: array&lt;int&gt;
    * of OLD positions in NEW order — rank r lands at slot
    * (r mod Subs)·(Dim/Subs) + r div Subs, the round-robin deal). */
  def permutation(corpus: DataFrame,
      vecCol: String = "embedding"): DataFrame = {
    val per = Dim / Subs
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("energy").desc, col("pos"))
    corpus
      .select(posexplode(col(vecCol)).as(Seq("pos", "x")))
      .select(col("pos"),
        // clamp |x| ≤ ClampAbs before quantizing: the ranking only
        // needs RELATIVE energy, and a hostile coordinate (a 1e18
        // float — found by the FuzzCorpus gate) would otherwise push
        // q² past every integer width in both engines. Saturated
        // coordinates still rank their dimension maximal.
        floor(greatest(least(col("x").cast("double"), lit(ClampAbs)),
          -lit(ClampAbs)) * lit(1000000.0)).cast("long").as("q"))
      .groupBy(col("pos"))
      .agg(count(lit(1)).cast("decimal(38,0)").as("n"),
        sum(col("q").cast("decimal(38,0)")).as("s1"),
        sum((col("q") * col("q")).cast("decimal(38,0)")).as("s2"))
      .select(col("pos"),
        (col("n") * col("s2") - col("s1") * col("s1")).as("energy"))
      .withColumn("r", row_number().over(w) - 1)
      .select(col("pos"),
        ((col("r") % Subs) * per + expr(s"r div $Subs")).as("newpos"))
      .agg(transform(
        array_sort(collect_list(struct(col("newpos"), col("pos")))),
        s => s.getField("pos")).as("perm"))
  }

  /** Apply `perm` (the [[permutation]] row) to `vecCol` in place; the
    * result is the permuted DOUBLE array (like Opq.rotated, doubles
    * keep the SQL replay bit-identical). */
  def permuted(corpus: DataFrame, perm: DataFrame,
      vecCol: String = "embedding"): DataFrame =
    corpus.crossJoin(broadcast(perm))
      .withColumn(vecCol, transform(col("perm"), p =>
        element_at(col(vecCol), p.cast("int") + 1).cast("double")))
      .drop("perm")

  /** The DuckDB replay: CTEs learning the permutation from `$base`
    * (carrying `id` and `$vecExpr`) and applying it — ends in
    * `permr` = (id, r: the permuted double list). HUGEINT energy
    * arithmetic mirrors the decimal(38,0) Spark side exactly. */
  def permCtes(base: String, vecExpr: String): String = s"""
      pe0 AS (
        SELECT CAST(a.pos AS INT) AS pos,
          CAST(floor(1000000.0 * greatest(least(
            CAST($vecExpr[CAST(a.pos AS INT) + 1] AS DOUBLE),
            $ClampAbs), -$ClampAbs)) AS BIGINT) AS q
        FROM $base, UNNEST(range(0, $Dim)) a(pos)),
      pe AS (
        SELECT pos, COUNT(*) * SUM(q * q) - SUM(q) * SUM(q) AS energy
        FROM pe0 GROUP BY pos),
      pr AS (
        SELECT pos, row_number() OVER (ORDER BY energy DESC, pos) - 1 AS r
        FROM pe),
      pp AS (
        SELECT (r % $Subs) * ${Dim / Subs} + r // $Subs AS newpos, pos
        FROM pr),
      pml AS (SELECT list(pos ORDER BY newpos) AS pm FROM pp),
      permr AS (
        SELECT b.id,
          list_transform(range(0, $Dim), j ->
            CAST($vecExpr[pm[CAST(j AS INT) + 1] + 1] AS DOUBLE)) AS r
        FROM $base b, pml)"""
}
