package graft

import org.apache.spark.sql.functions._

import graft.ann.Ann

/**
 * The filtered-search metadata store (r18 verdict item 4): the
 * pre/post-filter arm decision must read a MAINTAINED per-predicate
 * population, not re-count the predicate's slice per serve call. This
 * spec pins the store's whole lifecycle: build == direct count, append
 * == pure integer add (equals a from-scratch recount of the grown
 * corpus), unknown keys fail loudly, and the zero-norm ingest drop is
 * applied consistently with every other search path.
 */
class SliceCountSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    tempDir("graft-slicecnt").toString

  private def mkEmb(rows: Seq[(Long, Seq[Float], Long)]) =
    rows.toDF("vec_id", "embedding", "label")

  private val preds = Seq(
    "l1" -> (col("label") === 1),
    "l2_even" -> (col("label") === 2 && col("vec_id") % 2 === 0))

  test("build == direct count (zero-norm rows excluded); unknown key " +
      "fails loudly") {
    val e = mkEmb(Seq(
      (0L, Seq(1f, 0f), 1L),
      (1L, Seq(0f, 0f), 1L), // zero norm — not servable, not counted
      (2L, Seq(0f, 2f), 1L),
      (3L, Seq(1f, 1f), 2L),
      (4L, Seq(2f, 1f), 2L),
      (5L, Seq(3f, 1f), 3L)))
    val root = tmp()
    Ann.writeSliceCounts(spark, root, e, preds)
    assert(Ann.sliceCount(spark, root, "l1") == 2L)
    assert(Ann.sliceCount(spark, root, "l2_even") == 1L)
    intercept[NoSuchElementException] {
      Ann.sliceCount(spark, root, "never_registered")
    }
  }

  test("append integer-adds the batch's matches == recount of the " +
      "grown corpus") {
    val old = mkEmb(Seq(
      (0L, Seq(1f, 0f), 1L), (1L, Seq(0f, 1f), 2L),
      (2L, Seq(1f, 1f), 2L)))
    val batch = mkEmb(Seq(
      (10L, Seq(1f, 2f), 1L), (11L, Seq(0f, 0f), 1L), // zero-norm drop
      (12L, Seq(2f, 2f), 2L), (13L, Seq(1f, 3f), 3L)))
    val root = tmp()
    Ann.writeSliceCounts(spark, root, old, preds)
    Ann.appendSliceCounts(spark, root, batch, preds)
    val fromScratch = tmp()
    Ann.writeSliceCounts(spark, fromScratch, old.unionByName(batch), preds)
    preds.foreach { case (k, _) =>
      assert(Ann.sliceCount(spark, root, k) ==
        Ann.sliceCount(spark, fromScratch, k),
        s"append-maintained count for '$k' diverged from recount")
    }
  }

  test("the served decision replays the stored count: both registry " +
      "arms read the store and stay green on the driver corpus") {
    // the two registered filtered queries run end-to-end here (their
    // DuckDB oracles run in the driver gate; this pins the plumbing)
    val sel = SparkEntry.queries("ann_filtered_selective")(spark, sf001)
    val plain = SparkEntry.queries("ann_filtered")(spark, sf001)
    assert(sel.count() > 0 && plain.count() > 0)
  }
}
