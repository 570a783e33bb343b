package graft

import org.apache.spark.sql.functions._

import graft.store.{ConcurrentWriterException, Lease}
import graft.text.Bm25

/**
 * Concurrent-writer safety (r18 verdict item 6): the swap/summary
 * discipline is single-writer, and that is now ENFORCED, not assumed —
 * mutating store entry points claim a [[graft.store.Lease]] and a
 * second concurrent writer fails loudly. This spec runs the real race
 * ten times (latch-started appendLexicon pairs), asserts the
 * deterministic outcome (one winner; any loser throws
 * ConcurrentWriterException, retries, and the store converges to the
 * serial result — never a torn summary or lost add), and drives the
 * lease protocol's edges: live lease blocks, expired lease (crashed
 * holder) is broken and re-claimed, release is holder-scoped.
 */
class ConcurrencySpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(tag: String): String = tempDir(s"graft-conc-$tag").toString

  test("ten latch-started appendLexicon races: one winner per round, " +
      "losers fail loudly and a retry converges to the serial result") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val old = Seq((1L, "spark merge fast table"), (2L, "merge merge slow"))
      .toDF("doc_id", "text")
    var sawRace = false
    var lastRoot: String = null
    (0 until 10).foreach { it =>
      val root = tmpDir(s"race$it"); lastRoot = root
      Bm25.buildLexicon(old, root)
      val a = Seq((100L + it, "spark table window")).toDF("doc_id", "text")
      val b = Seq((200L + it, "merge fast merge")).toDF("doc_id", "text")
      val latch = new java.util.concurrent.CountDownLatch(1)
      def attempt(df: org.apache.spark.sql.DataFrame) = Future {
        latch.await()
        try { Bm25.appendLexicon(spark, df, root); None }
        catch { case _: ConcurrentWriterException => Some(df) }
      }
      val fa = attempt(a); val fb = attempt(b)
      latch.countDown()
      val losers = Await.result(Future.sequence(Seq(fa, fb)), 5.minutes)
        .flatten
      assert(losers.size <= 1, "both writers lost — nobody held the lease")
      if (losers.nonEmpty) sawRace = true
      // the documented recovery: the loser simply retries
      losers.foreach(df => Bm25.appendLexicon(spark, df, root))
      // store state must equal the serial outcome exactly: n=4 docs,
      // sumdl = 4+3+3+3 tokens, df integer-added for both batches
      val st = spark.read.parquet(
        Bm25.summaryPath(spark, root, "stats")).head()
      assert((st.getAs[Long]("n"), st.getAs[Long]("sumdl")) == ((4L, 13L)),
        s"round $it: torn stats ${st.toSeq}")
      val dfm = spark.read.parquet(Bm25.summaryPath(spark, root, "df"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(dfm == Map("spark" -> 2L, "merge" -> 3L, "fast" -> 2L,
        "table" -> 2L, "slow" -> 1L),
        s"round $it: df summary lost an add: $dfm")
    }
    assert(sawRace,
      "ten latch-started pairs never overlapped — the race was vacuous")
    // full postings equivalence once, against a from-scratch rebuild
    // over the final round's corpus (old-frozen vocabulary)
    val full = tmpDir("raceref")
    val aN = Seq((109L, "spark table window")).toDF("doc_id", "text")
    val bN = Seq((209L, "merge fast merge")).toDF("doc_id", "text")
    Bm25.buildLexicon(old.union(aN).union(bN), full, vocabDocs = Some(old))
    def posts(root: String) = spark.read.parquet(s"$root/postings")
      .select(col("term"), col("doc_id"), col("dl"), col("tf"), col("pos"))
      .collect().map(_.toSeq).toSet
    assert(posts(lastRoot) == posts(full),
      "raced-then-retried store diverged from the serial rebuild")
  }

  test("lease protocol: live lease blocks; expired lease is broken; " +
      "release is holder-scoped") {
    val root = tmpDir("lease")
    val t1 = Lease.acquire(spark, root)
    intercept[ConcurrentWriterException] { Lease.acquire(spark, root) }
    Lease.release(spark, root, t1)
    val t2 = Lease.acquire(spark, root) // released → claimable again
    // a stale release (old token) must NOT drop the new holder's lease
    Lease.release(spark, root, t1)
    intercept[ConcurrentWriterException] { Lease.acquire(spark, root) }
    Lease.release(spark, root, t2)

    // crashed holder: a lease older than the TTL is broken and
    // re-claimed instead of blocking forever
    val t3 = Lease.acquire(spark, root)
    assert(t3.nonEmpty)
    val leaseFile = java.nio.file.Paths.get(root + ".graft-lease")
    val aged = s"$t3 ${System.currentTimeMillis() - Lease.DefaultTtlMs - 1}"
    java.nio.file.Files.write(leaseFile, aged.getBytes("UTF-8"))
    val t4 = Lease.acquire(spark, root)
    assert(t4 != t3, "expired lease must be broken by a new claimant")
    Lease.release(spark, root, t4)
  }

  test("a lease file whose payload is not yet written is a live lease") {
    // a holder creates the lease file before it writes `token stamp`;
    // a second writer that looks in between must not break the lease
    val root = tmpDir("lease-empty")
    val leaseFile = java.nio.file.Paths.get(root + ".graft-lease")
    java.nio.file.Files.createFile(leaseFile)
    intercept[ConcurrentWriterException] { Lease.acquire(spark, root) }
    // the same empty file left by a holder that crashed before writing
    // ages by its modification time and is broken after the TTL
    java.nio.file.Files.setLastModifiedTime(leaseFile,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - Lease.DefaultTtlMs - 1000))
    Lease.release(spark, root, Lease.acquire(spark, root))
  }
}
