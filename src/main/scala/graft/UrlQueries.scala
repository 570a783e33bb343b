package graft

import org.apache.spark.sql.functions._

import graft.sources.Sources
import graft.text.{Text, Urls}

/**
 * SURVEY.md §2 row 91: the URL / domain curation-signal family — host
 * extraction, registered-domain (eTLD+1) rollup with per-domain
 * quality, and URL normalization for crawl-dup detection (the
 * CommonCrawl-style signals a web-scale corpus is filtered by).
 *
 * The test tables have no URL column, so each query first synthesizes
 * one as a closed form of doc_id ([[graft.text.Urls.synthUrl]]) and
 * then operates ONLY on the URL STRING — `parse_url`, suffix-list
 * lookup, param filtering — while the DuckDB oracle replays the
 * generator FORMULA and never parses a URL (the
 * multimodal-generator proof discipline, MultimodalQueries row 36).
 *
 * Scale shape: everything per-row until the one rollup/dedup groupBy
 * (a single shuffle on the natural key); no UDF, no driver state, no
 * collected side structures — the suffix list is a literal array in
 * the plan.
 */
object UrlQueries {

  /** Domain keep floor in milli-logits per token (the quality model's
    * integer unit): the measured per-domain MEDIAN of the test corpus
    * (-54; domain per-token values span -100..-9), so the blocklist
    * decision genuinely splits. Applied multiplicatively. */
  private[graft] val DomainFloorMilli = -54L

  private def withUrl(s: org.apache.spark.sql.SparkSession, dir: String) =
    Sources.table(s, dir, "documents")
      .select(col("doc_id"), col("text"),
        Urls.synthUrl(col("doc_id")).as("url"))

  /** The DOMAIN-keyed pack-time mixture contract (#91e/f): a web corpus
    * has millions of registered domains, so unlike the per-source
    * contract (row 92: name the sources you cap) the domain contract is
    * a DEFAULT cap — no single domain exceeds [[DomainQuotaDefault]]
    * tokens — with a short explicit-exception list: eight domains with
    * tighter caps cycling 300/600/900 (all bind at sf0.01: per-domain
    * mass spans ~900-1550 tokens) and one explicitly uncapped (-1).
    * The default (1200) binds for the heaviest few domains at sf0.01
    * and for ALL unlisted domains at 10×, so both regimes of the
    * default path are exercised. */
  private[graft] val DomainQuotaDefault = 1200L
  private[graft] val DomainQuotas: Seq[(String, Long)] =
    (0 until 8).map(d => Urls.domainName(d) -> (300L * (d % 3 + 1))) :+
      (Urls.domainName(8) -> -1L)

  /** DuckDB replay of the domain quota when-chain (ELSE = default). */
  private def domainQuotaCaseSql(dom: String): String =
    s"CASE $dom " + DomainQuotas.map { case (d0, q) =>
      s"WHEN '$d0' THEN $q" }.mkString(" ") +
      s" ELSE $DomainQuotaDefault END"

  /** DuckDB replay of the domain-keyed quotaAdmit over `documents`:
    * domain from the generator FORMULA (never a parsed URL), inclusive
    * per-domain running token sum in doc-id order, kept while ≤ cap. */
  private def domainAdmittedSql(): String =
    s"""SELECT doc_id, domain, n_toks FROM (
          SELECT doc_id, domain, n_toks,
            SUM(n_toks) OVER (PARTITION BY domain ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
          FROM (
            SELECT doc_id, ${Urls.registeredSql("doc_id")} AS domain,
              CAST(len(regexp_extract_all(lower(text), '[^ \\t\\n\\f\\r\\x0B]+'))
                AS BIGINT) AS n_toks
            FROM documents))
        WHERE ${domainQuotaCaseSql("domain")} < 0
           OR cum <= ${domainQuotaCaseSql("domain")}"""

  /** `documents` with the registered domain computed from the URL
    * STRING (synthesize → parse host → suffix-list rollup) — the real
    * operator chain; only the oracle uses the closed form. */
  private def docsWithDomain(s: org.apache.spark.sql.SparkSession,
      dir: String) =
    Sources.table(s, dir, "documents").select(
      col("doc_id"), col("text"),
      Urls.registeredDomain(
        parse_url(Urls.synthUrl(col("doc_id")), lit("HOST"))).as("domain"))

  /** The domain-quota-packed shard artifact (#91e/f); members carry
    * `domain`. The offsets join is NOT forced broadcast — at web scale
    * the per-(domain, bucket) offset table's cardinality follows the
    * domain population, so the planner must pick the strategy from
    * actual size. */
  private def ensureDomainShards(s: org.apache.spark.sql.SparkSession,
      dir: String): String =
    graft.tools.LocalFs.cached("domainshards", dir, Seq("documents.parquet")) { p =>
      graft.dedup.Corpus.writeShardsQuota(docsWithDomain(s, dir), p,
        DomainQuotas, seqLen = 256, shards = 8, srcCol = "domain",
        default = DomainQuotaDefault, broadcastOffsets = false)
    }

  /** The kept-domain set of `docs` under the blocklist floor — the
    * one-column artifact the streaming admission probe joins against
    * (url_domain_filter's decision, survivors only). */
  private[graft] def keepDomains(
      docs: org.apache.spark.sql.DataFrame,
      floor: Long = DomainFloorMilli): org.apache.spark.sql.DataFrame = {
    val host = parse_url(Urls.synthUrl(col("doc_id")), lit("HOST"))
    val dd = docs.select(col("doc_id"),
      Urls.registeredDomain(host).as("domain"))
    dd.join(Text.qualityModelRaw(docs), Seq("doc_id"))
      .groupBy(col("domain"))
      .agg(sum(col("num")).as("dn"), sum(col("n_tokens")).as("dt"))
      .where(col("dn") - lit(floor) * col("dt") >= 0L)
      .select(col("domain"))
  }

  /** Persist the OLD slice's kept-domain blocklist once per dataset —
    * the artifact a crawl stream probes, so the static side of the
    * stream-static join reads ~14 rows of parquet instead of
    * recomputing a corpus quality pass per micro-batch. */
  private[graft] def ensureBlocklist(s: org.apache.spark.sql.SparkSession,
      dir: String): String =
    graft.tools.LocalFs.cached("blocklist", dir, Seq("documents.parquet")) { p =>
      keepDomains(Sources.table(s, dir, "documents")
          .where(expr(DedupQueries.OldWhere)))
        .coalesce(1).write.mode("overwrite").parquet(p)
    }

  def all: Seq[Q] = Seq(
    // #91a host extraction + URL anatomy: one projection of parse_url
    // components off the raw string. The oracle's closed forms prove
    // the parse is real (scheme/host/path/params/fragment must all
    // round-trip the generator's formula through java URL parsing).
    Q("url_parse",
      (s, dir) => withUrl(s, dir).select(
        col("doc_id"),
        col("url"),
        parse_url(col("url"), lit("PROTOCOL")).as("scheme"),
        parse_url(col("url"), lit("HOST")).as("host"),
        parse_url(col("url"), lit("PATH")).as("path"),
        size(split(parse_url(col("url"), lit("QUERY")), "&"))
          .as("n_params"),
        parse_url(col("url"), lit("REF")).isNotNull.as("has_frag")),
      Some {
        val (u, id) = ("(doc_id % 150)", "doc_id")
        s"""
        SELECT doc_id,
          ${Urls.urlSql(id)} AS url,
          (CASE WHEN $u % 3 = 0 THEN 'http' ELSE 'https' END) AS scheme,
          ${Urls.hostSql(id)} AS host,
          ('/p/' || ($u % 17) ||
            (CASE WHEN $u % 2 = 0 THEN '/a' ELSE '' END) ||
            '/doc-' || $u) AS path,
          CAST(CASE WHEN $id % 2 = 0 THEN 2 ELSE 1 END AS INTEGER)
            AS n_params,
          ($id % 7 = 0) AS has_frag
        FROM documents"""
      }),

    // #91b registered-domain rollup: eTLD+1 via the public-suffix list
    // (three of the 8 generator TLDs are two-level, so "last two
    // labels" is wrong for ~3/8 of hosts — the suffix lookup is load-
    // bearing), then the per-domain aggregate a curation pipeline
    // blocklists from: doc count, distinct hosts, distinct pages, mean
    // quality. One shuffle on the 23-value domain key.
    Q("url_domain_rollup",
      (s, dir) => {
        val host = parse_url(col("url"), lit("HOST"))
        withUrl(s, dir)
          .select(col("doc_id"), col("text"), host.as("host"),
            Urls.registeredDomain(host).as("domain"),
            parse_url(col("url"), lit("PATH")).as("path"))
          .groupBy(col("domain"))
          .agg(count(lit(1)).as("n_docs"),
            countDistinct(col("host")).as("n_hosts"),
            countDistinct(col("path")).as("n_pages"),
            avg(Text.qualityScore(col("text"))).as("avg_quality"))
      },
      Some {
        val u = "(doc_id % 150)"
        s"""
        WITH t AS (
          SELECT ${Urls.registeredSql("doc_id")} AS domain,
            ${Urls.hostSql("doc_id")} AS host,
            ('/p/' || ($u % 17) ||
              (CASE WHEN $u % 2 = 0 THEN '/a' ELSE '' END) ||
              '/doc-' || $u) AS path,
            ${DedupSql.qualitySql("text")} AS q
          FROM documents)
        SELECT domain, count(*) AS n_docs,
          count(DISTINCT host) AS n_hosts,
          count(DISTINCT path) AS n_pages,
          avg(q) AS avg_quality
        FROM t GROUP BY domain"""
      }),

    // #91d per-domain BLOCKLIST filtering — the curation decision the
    // rollup exists for: a domain whose AGGREGATE quality sits below
    // the floor drops wholesale (the spam-farm case per-doc filtering
    // misses: occasional good pages on a bad domain). The decision is
    // exact integer arithmetic end to end: the quality model's integer
    // numerator summed per domain, floor applied multiplicatively
    // (domain_num >= floor * domain_toks, both BIGINT) — no float, no
    // division. The floor (-54 milli-logits/token) is the measured
    // per-domain median, so the gate splits 11/12 instead of passing
    // vacuously. One extra shuffle on the domain key; the 23-row
    // domain aggregate joins back keyed (AQE broadcasts it).
    Q("url_domain_filter",
      (s, dir) => {
        val host = parse_url(col("url"), lit("HOST"))
        val d = withUrl(s, dir)
          .select(col("doc_id"), Urls.registeredDomain(host).as("domain"))
        val q = Text.qualityModelRaw(
          Sources.table(s, dir, "documents"))
        val perDoc = d.join(q, Seq("doc_id"))
        val dom = perDoc.groupBy(col("domain"))
          .agg(sum(col("num")).as("domain_num"),
            sum(col("n_tokens")).as("domain_toks"))
        perDoc.join(dom, Seq("domain"))
          .select(col("doc_id"), col("domain"),
            col("num").as("doc_num"),
            col("domain_num"), col("domain_toks"),
            (col("domain_num") - lit(DomainFloorMilli) * col("domain_toks")
              >= 0L).as("kept"))
      },
      Some {
        val h = graft.functions.XHash.h60Sql("'qm:' || t")
        val b = Text.QmBuckets
        val bias = Text.QmBiasNum
        s"""
        WITH toks AS (
          SELECT doc_id,
            unnest(regexp_extract_all(lower(text), '[^ \\t\\n\\f\\r\\x0B]+')) AS t
          FROM documents),
        feats AS (
          SELECT doc_id,
            ($h % $b) * 2654435761 % 2000 - 1000 AS wi
          FROM toks),
        agg AS (
          SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
            CAST(sum(wi) + $bias * count(*) AS BIGINT) AS num
          FROM feats GROUP BY doc_id),
        d AS (
          SELECT doc_id, ${Urls.registeredSql("doc_id")} AS domain
          FROM documents),
        dom AS (
          SELECT domain, CAST(sum(num) AS BIGINT) AS domain_num,
            CAST(sum(n_tokens) AS BIGINT) AS domain_toks
          FROM d JOIN agg USING (doc_id) GROUP BY domain)
        SELECT d.doc_id, d.domain, agg.num AS doc_num,
          dom.domain_num, dom.domain_toks,
          (dom.domain_num - ($DomainFloorMilli) * dom.domain_toks >= 0)
            AS kept
        FROM d JOIN agg USING (doc_id) JOIN dom USING (domain)"""
      }),

    // #91c URL normalization + url-keyed crawl dedup: utm_* params
    // dropped, survivors sorted, fragment dropped, authority kept
    // verbatim (non-default port survives) — then group on the
    // canonical string: the same page crawled under different tracking
    // noise collapses to one group, min doc_id elected canonical. The
    // group join stays keyed (AQE broadcasts when small); no driver
    // collect.
    Q("url_normalize",
      (s, dir) => {
        val d = withUrl(s, dir)
          .select(col("doc_id"), Urls.normalize(col("url")).as("norm_url"))
        val groups = d.groupBy(col("norm_url"))
          .agg(count(lit(1)).as("dup_count"),
            min(col("doc_id")).as("canon"))
        d.join(groups, Seq("norm_url"))
          .select(col("doc_id"), col("norm_url"), col("dup_count"),
            (col("doc_id") === col("canon")).as("is_canonical"))
      },
      Some(s"""
        WITH n AS (
          SELECT doc_id, ${Urls.normalizedSql("doc_id")} AS norm_url
          FROM documents)
        SELECT doc_id, norm_url,
          count(*) OVER (PARTITION BY norm_url) AS dup_count,
          (doc_id = min(doc_id) OVER (PARTITION BY norm_url))
            AS is_canonical
        FROM n""")),

    // #91e DOMAIN-keyed token quotas at pack time — row 92's mixture
    // contract moved to row 91's key: "no single registered domain
    // exceeds N tokens in the packed corpus" (the anti-spam-farm /
    // anti-boilerplate cap a CommonCrawl recipe applies, which no
    // per-source quota can express: one crawl source spans every
    // domain). The contract is a DEFAULT cap + a short exception list
    // (millions of domains ⇒ the config can never enumerate them), and
    // the offsets join is planner-chosen, not forced broadcast (the
    // per-(domain, bucket) offset table follows the domain population).
    // Domain comes from the URL STRING via parse_url + suffix list; the
    // oracle replays the generator formula. Manifest at (shard, domain)
    // grain recomputed FROM THE WRITTEN BYTES (row 86 discipline) — an
    // over-quota doc in the artifact hash-mismatches.
    Q("corpus_pack_domain_quota",
      (s, dir) => {
        val members = graft.sources.Sources.parquet(s, s"${ensureDomainShards(s, dir)}/members")
        members.groupBy(col("shard"), col("domain")).agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_toks")).as("n_toks"),
          sum(when(col("chunk_first") =!= col("chunk_last"), 1L)
            .otherwise(0L)).as("straddlers"),
          sum(col("doc_id") % lit(1000003L) *
            (graft.functions.XHash.h60(col("doc_id").cast("string"))
              % lit(1000000L)) % lit(1000003L)).as("checksum"))
      },
      Some(s"""
        WITH a AS (${domainAdmittedSql()}),
        m AS (
          SELECT doc_id, domain, n_toks,
            ${graft.functions.XHash.h60Sql("CAST(doc_id AS VARCHAR)")} % 8 AS shard,
            ${graft.functions.XHash.h60Sql("CAST(doc_id AS VARCHAR)")} % 1000000 AS ck,
            COALESCE(SUM(n_toks) OVER (
              PARTITION BY ${graft.functions.XHash.h60Sql("CAST(doc_id AS VARCHAR)")} % 8
              ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS tok_offset
          FROM a)
        SELECT CAST(shard AS BIGINT) AS shard, domain,
          CAST(count(*) AS BIGINT) AS n_docs,
          CAST(sum(n_toks) AS BIGINT) AS n_toks,
          CAST(sum(CASE WHEN tok_offset // 256 <>
            (tok_offset + n_toks - 1) // 256 THEN 1 ELSE 0 END) AS BIGINT)
            AS straddlers,
          CAST(sum(doc_id % 1000003 * ck % 1000003) AS BIGINT) AS checksum
        FROM m GROUP BY shard, domain""")),

    // #91f the per-domain FILL report: cap (explicit, default, or -1),
    // what the written artifact holds, what the quota rejected, fill
    // rate in integer millionths — published next to the manifest.
    // Non-vacuity lives in the constants: at sf0.01 the eight explicit
    // caps all bind, site8.com admits everything, and the default
    // binds for the heaviest unlisted domains only (UrlSpec pins both
    // default regimes present).
    Q("corpus_pack_domain_fill",
      (s, dir) => {
        val members = graft.sources.Sources.parquet(s, s"${ensureDomainShards(s, dir)}/members")
        val admitted = members.groupBy(col("domain")).agg(
          count(lit(1)).as("admitted_docs"),
          sum(col("n_toks")).as("admitted_toks"))
        val quota = DomainQuotas.foldLeft(
            lit(DomainQuotaDefault): org.apache.spark.sql.Column) {
          case (acc, (d0, q)) =>
            when(col("domain") === d0, lit(q)).otherwise(acc)
        }
        docsWithDomain(s, dir).groupBy(col("domain"))
          .agg(count(lit(1)).as("total_docs"))
          .join(admitted, Seq("domain"), "left_outer")
          .select(col("domain"), quota.as("quota"),
            coalesce(col("admitted_docs"), lit(0L)).as("admitted_docs"),
            coalesce(col("admitted_toks"), lit(0L)).as("admitted_toks"),
            (col("total_docs") - coalesce(col("admitted_docs"), lit(0L)))
              .as("dropped_docs"),
            when(quota < 0L, lit(-1L))
              .otherwise(expr(
                "coalesce(admitted_toks, 0) * 1000000 div quota"))
              .as("fill_millionths"))
      },
      Some(s"""
        WITH a AS (${domainAdmittedSql()}),
        g AS (
          SELECT domain, CAST(count(*) AS BIGINT) AS admitted_docs,
            CAST(sum(n_toks) AS BIGINT) AS admitted_toks
          FROM a GROUP BY domain),
        r AS (
          SELECT domain, CAST(count(*) AS BIGINT) AS total_docs,
            CAST(${domainQuotaCaseSql("domain")} AS BIGINT) AS quota
          FROM (SELECT ${Urls.registeredSql("doc_id")} AS domain
                FROM documents) GROUP BY domain)
        SELECT r.domain, r.quota,
          COALESCE(g.admitted_docs, 0) AS admitted_docs,
          COALESCE(g.admitted_toks, 0) AS admitted_toks,
          r.total_docs - COALESCE(g.admitted_docs, 0) AS dropped_docs,
          CASE WHEN r.quota < 0 THEN CAST(-1 AS BIGINT)
            ELSE COALESCE(g.admitted_toks, 0) * 1000000 // r.quota END
            AS fill_millionths
        FROM r LEFT JOIN g ON r.domain = g.domain""")),

    // #91g FULL public-suffix-list semantics (SURVEY row 102, r13
    // verdict item 3): registered-domain extraction through the real
    // PSL resolution — wildcard rules (*.ck), exception rules
    // (!www.ck), longest-match, implicit default — compiled to three
    // map literals probed per row (element_at hash lookups: no join,
    // no explode, no shuffle, and never a 9k-entry when-chain; the
    // published ~9k-rule file loads through Psl.load as a config
    // artifact). The synthesized host population cycles all four rule
    // regimes, and the oracle replays the generator's closed-form
    // expected domain — it never runs PSL logic, so a resolution bug
    // in ANY branch (exception ignored, wildcard depth off by one,
    // default misapplied) hash-fails.
    Q("url_domain_psl",
      (s, dir) => Sources.table(s, dir, "documents")
        .select(col("doc_id"),
          Urls.synthHostPsl(col("doc_id")).as("host"))
        .select(col("doc_id"), col("host"),
          graft.text.Psl.registeredDomain(col("host"),
            graft.text.Psl.Fixture).as("domain")),
      Some(s"""
        SELECT doc_id, ${Urls.hostPslSql("doc_id")} AS host,
          ${Urls.domainPslSql("doc_id")} AS domain
        FROM documents"""))
  )
}
