package graft

import org.apache.spark.sql.functions._

import graft.text.Urls

/** Pins for the URL / domain family (SURVEY §2 row 91): the generator's
  * anatomy, real parse round-trips, eTLD+1 suffix-list behavior on
  * hand-built hosts (not just generator output), and normalization's
  * exact canonical form. */
class UrlSpec extends SparkSpec {
  import spark.implicits._

  private def one(c: org.apache.spark.sql.Column): String =
    spark.range(1).select(c.cast("string")).head.getString(0)

  test("synthUrl: canonical parts derive from id % 150, noise from id") {
    // id 150 and id 0 share u=0 → same scheme/host/port/path/id-param
    val urls = Seq(0L, 150L, 300L).map(i =>
      one(Urls.synthUrl(lit(i))))
    // id 0: u=0 → http (0%3=0), bare host (0%5=0), :8080 (0%11=0),
    // utm present (0%2=0), id-first (0%4=0), frag (0%7=0)
    assert(urls.head ==
      "http://site0.com:8080/p/0/a/doc-0?id=0&utm_source=s0#sec0")
    // id 150: same canon, utm present (150%2=0) but utm-first
    // (150%4!=0), no frag (150%7!=0)
    assert(urls(1) ==
      "http://site0.com:8080/p/0/a/doc-0?utm_source=s0&id=0")
    // id 300: utm s0 (300%6=0), id-first (300%4=0), no frag
    assert(urls(2) ==
      "http://site0.com:8080/p/0/a/doc-0?id=0&utm_source=s0")
  }

  test("parse_url round-trips the generator (host drops the port)") {
    val r = spark.range(303).select(
      Urls.synthUrl(col("id")).as("url"))
      .select(parse_url(col("url"), lit("HOST")).as("h"),
        parse_url(col("url"), lit("PROTOCOL")).as("p"))
      .where(col("h").contains(":") || !col("p").isin("http", "https"))
      .count()
    assert(r == 0L)
  }

  test("registeredDomain: suffix list is load-bearing, not last-two-labels") {
    val cases = Seq(
      "www.site5.co.uk" -> "site5.co.uk",   // two-level suffix + sub
      "site5.co.uk" -> "site5.co.uk",       // two-level suffix, bare
      "www.site4.com" -> "site4.com",       // one-level + sub
      "site4.com" -> "site4.com",           // one-level, bare
      "a.b.site9.com.au" -> "site9.com.au", // deep sub chain
      "co.uk" -> "co.uk")                   // bare suffix: nothing to add
    for ((h, want) <- cases)
      assert(one(Urls.registeredDomain(lit(h))) == want, h)
  }

  // ---- full PSL semantics (SURVEY row 102) ----------------------------

  private def pslOne(h: String,
      rules: graft.text.Psl.Rules = graft.text.Psl.Fixture): Option[String] = {
    val r = spark.range(1)
      .select(graft.text.Psl.registeredDomain(lit(h), rules)).head
    if (r.isNullAt(0)) None else Some(r.getString(0))
  }

  test("PSL: wildcard and exception rules resolve per the published algorithm") {
    // publicsuffix.org's own worked example family: *.ck + !www.ck
    val cases = Seq(
      "foo.bar.ck" -> Some("foo.bar.ck"),  // *.ck → bar.ck is a suffix
      "a.foo.bar.ck" -> Some("foo.bar.ck"),
      "www.ck" -> Some("www.ck"),          // !www.ck → ck is the suffix
      "foo.www.ck" -> Some("www.ck"),      // exception beats wildcard
      "bar.ck" -> None,                    // host IS a public suffix
      "ck" -> None,                        // bare TLD
      "www.site5.co.uk" -> Some("site5.co.uk"), // two-level normal
      "co.uk" -> None,                     // bare two-level suffix
      "a.b.site4.com" -> Some("site4.com"), // implicit * default
      "site4.com" -> Some("site4.com"),
      "com" -> None)
    for ((h, want) <- cases) assert(pslOne(h) == want, h)
  }

  test("PSL: host canonicalization — case-insensitive, trailing dot ignored (ADVICE r14)") {
    // publicsuffix.org algorithm step 1: the host is lowercased and a
    // fully-qualified trailing dot is ignored before rule matching —
    // without it these resolve via the implicit default, not co.uk/ck
    assert(pslOne("Foo.CO.UK") == Some("foo.co.uk"))
    assert(pslOne("a.co.uk.") == Some("a.co.uk"))
    assert(pslOne("WWW.SITE5.CO.UK.") == Some("site5.co.uk"))
    assert(pslOne("CO.UK") == None)
    assert(pslOne("Bar.CK.") == None) // wildcard: host IS a public suffix
    assert(pslOne("FOO.WWW.CK") == Some("www.ck")) // exception, cased
  }

  test("PSL: longest match prevails and deeper rule sets resolve") {
    // a 3-level rule alongside its 2-level prefix: longest must win
    val rules = graft.text.Psl.fromLines(Seq(
      "// comment line", "", "uk", "co.uk", "ide.kyoto.jp", "jp",
      "*.kawasaki.jp", "!city.kawasaki.jp"))
    val cases = Seq(
      "x.ide.kyoto.jp" -> Some("x.ide.kyoto.jp"),
      "kyoto.jp" -> Some("kyoto.jp"),      // only 'jp' matches → eTLD+1
      "a.b.kawasaki.jp" -> Some("a.b.kawasaki.jp"), // *.kawasaki.jp
      "city.kawasaki.jp" -> Some("city.kawasaki.jp"), // exception
      "x.city.kawasaki.jp" -> Some("city.kawasaki.jp"),
      "kawasaki.jp" -> Some("kawasaki.jp")) // wildcard needs a label under
    for ((h, want) <- cases) assert(pslOne(h, rules) == want, h)
  }

  test("PSL at published scale: curated artifact + 9k rules, worked examples hold (r14 verdict item 4)") {
    // the curated resource carries authentic well-known rules (co.uk,
    // the kawasaki wildcard/exception family, ide.kyoto.jp, *.ck); a
    // generated bulk section brings the set to the published file's
    // ~9k-rule SCALE (no network in this environment, so the real file
    // itself cannot be vendored — the header documents the swap)
    val curated = "src/test/resources/psl-curated.dat"
    val bulk = (0 until 8800).flatMap { i =>
      if (i % 40 == 0) Seq(s"*.w$i.zz", s"!ok.w$i.zz") else Seq(s"s$i.zz")
    }
    val f = tempDir("psl9k").resolve("psl.dat").toFile
    java.nio.file.Files.write(f.toPath,
      (scala.jdk.CollectionConverters.ListHasAsScala(
        java.nio.file.Files.readAllLines(
          java.nio.file.Paths.get(curated))).asScala.toSeq ++ bulk)
        .mkString("\n").getBytes("UTF-8"))
    val rules = graft.text.Psl.load(spark, f.getAbsolutePath)
    // scale sanity: ≥9k compiled rules, probe depth stays the anchors'
    assert(rules.norm.size + rules.wild.size + rules.exc.size >= 9000)
    assert(rules.maxProbe == 3,
      s"deepest anchor should bound probing at 3, got ${rules.maxProbe}")
    // publicsuffix.org's own worked examples through the 9k-rule plan
    // (three map literals — Catalyst must carry and probe them per row)
    val cases = Seq(
      "www.example.com" -> Some("example.com"),
      "example.co.uk" -> Some("example.co.uk"),
      "www.example.co.uk" -> Some("example.co.uk"),
      "co.uk" -> None, "uk" -> None,
      "test.kyoto.jp" -> Some("test.kyoto.jp"),
      "ide.kyoto.jp" -> None,
      "b.ide.kyoto.jp" -> Some("b.ide.kyoto.jp"),
      "a.b.ide.kyoto.jp" -> Some("b.ide.kyoto.jp"),
      "city.kawasaki.jp" -> Some("city.kawasaki.jp"),
      "a.city.kawasaki.jp" -> Some("city.kawasaki.jp"),
      "test.kawasaki.jp" -> None,
      "b.test.kawasaki.jp" -> Some("b.test.kawasaki.jp"),
      "www.ck" -> Some("www.ck"),
      "test.ck" -> None,
      "b.test.ck" -> Some("b.test.ck"),
      "x.s17.zz" -> Some("x.s17.zz"),       // synthetic bulk resolves too
      "a.b.w40.zz" -> Some("a.b.w40.zz"),   // *.w40.zz wildcard
      "ok.w40.zz" -> Some("ok.w40.zz"),     // !ok.w40.zz exception
      "x.k12.ca.us" -> Some("x.k12.ca.us"))
    // ONE DataFrame pass over all cases: the 9k-rule literals ride the
    // plan once, per-row probes resolve every regime
    import spark.implicits._
    val got = cases.map(_._1).toDF("h")
      .select(col("h"),
        graft.text.Psl.registeredDomain(col("h"), rules).as("d"))
      .collect().map(r => r.getString(0) ->
        (if (r.isNullAt(1)) None else Some(r.getString(1)))).toMap
    for ((h, want) <- cases) assert(got(h) == want, h)
    f.delete()
  }

  test("PSL: load() parses the artifact file identically to fromLines") {
    val f = tempDir("psl").resolve("psl.dat").toFile
    val lines = Seq("// The PSL fixture as a config artifact",
      "co.uk", "*.ck", "!www.ck", "")
    java.nio.file.Files.write(f.toPath,
      lines.mkString("\n").getBytes("UTF-8"))
    val loaded = graft.text.Psl.load(spark, f.getAbsolutePath)
    assert(pslOne("foo.www.ck", loaded) == Some("www.ck"))
    assert(pslOne("a.b.ck", loaded) == Some("a.b.ck"))
    assert(pslOne("www.x.co.uk", loaded) == Some("x.co.uk"))
    f.delete()
  }

  test("PSL(Fixture) agrees with the two-level fast path on generator hosts") {
    // the synthetic URL population never emits bare suffixes, so the
    // full resolution and the lenient last-two/suffix-list shortcut
    // must coincide there — the shortcut stays valid for the rollup
    val diff = spark.range(1000)
      .select(parse_url(Urls.synthUrl(col("id")), lit("HOST")).as("h"))
      .select(col("h"), Urls.registeredDomain(col("h")).as("fast"),
        graft.text.Psl.registeredDomain(col("h"),
          graft.text.Psl.Fixture).as("full"))
      .where(col("full").isNull || col("fast") =!= col("full"))
      .count()
    assert(diff == 0)
  }

  test("normalize: strips utm_* and fragment, sorts params, keeps port") {
    val raw = "https://cdn.site3.io:8080/p/9/doc-3?utm_source=s5&id=7#sec2"
    assert(one(Urls.normalize(lit(raw))) ==
      "https://cdn.site3.io:8080/p/9/doc-3?id=7")
    // param sort: b= before id= after the utm strip
    val multi = "https://site4.com/p?id=7&utm_x=1&b=2"
    assert(one(Urls.normalize(lit(multi))) ==
      "https://site4.com/p?b=2&id=7")
    // all params stripped → no '?'
    val only = "https://site4.com/p?utm_only=1"
    assert(one(Urls.normalize(lit(only))) == "https://site4.com/p")
  }

  test("domain blocklist decision is non-vacuous and domain-uniform") {
    val out = UrlQueries.all.find(_.name == "url_domain_filter").get
      .run(spark, "/root/testdata/sf0.001")
      .select(col("domain"), col("kept")).collect()
      .map(r => (r.getString(0), r.getBoolean(1)))
    val byDomain = out.groupBy(_._1).view.mapValues(_.map(_._2).toSet)
    // every doc of a domain shares its domain's fate...
    assert(byDomain.values.forall(_.size == 1), "split within a domain")
    // ...and the floor genuinely splits the domains
    val fates = byDomain.values.map(_.head).toSeq
    assert(fates.contains(true) && fates.contains(false),
      s"vacuous blocklist: all ${fates.headOption}")
  }

  test("domain quota constants exercise all three regimes at sf0.01") {
    // The fill report's contract lives in its constants: the regimes
    // were MEASURED at sf0.01 (per-domain mass ~900-1550 tokens), so
    // pin them there — explicit caps (300/600/900) all bind, the
    // explicit -1 admits everything, and the 1200 default binds for
    // the heaviest unlisted domains ONLY (both default regimes live).
    val rows = UrlQueries.all.find(_.name == "corpus_pack_domain_fill").get
      .run(spark, "/root/testdata/sf0.01")
      .select(col("domain"), col("quota"), col("dropped_docs")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(rows.length == 23)
    val explicit = rows.filter(r => r._2 > 0 && r._2 < 1200)
    assert(explicit.length == 8 && explicit.forall(_._3 > 0),
      "an explicit cap stopped binding")
    val uncapped = rows.filter(_._2 < 0)
    assert(uncapped.map(_._1).toSeq == Seq("site8.com") &&
      uncapped.head._3 == 0L)
    val default = rows.filter(_._2 == UrlQueries.DomainQuotaDefault)
    assert(default.exists(_._3 > 0) && default.exists(_._3 == 0),
      "default cap no longer splits the unlisted domains")
  }

  test("normalized URL is a pure function of id % 150 (dup groups real)") {
    val n = spark.range(450)
      .select((col("id") % 150).as("u"),
        Urls.normalize(Urls.synthUrl(col("id"))).as("norm"))
      .groupBy(col("u")).agg(countDistinct(col("norm")).as("d"))
      .where(col("d") =!= 1).count()
    assert(n == 0L)
    // and distinct u → distinct norm (no accidental cross-u collision)
    val total = spark.range(450)
      .select(Urls.normalize(Urls.synthUrl(col("id"))).as("norm"))
      .agg(countDistinct(col("norm"))).head.getLong(0)
    assert(total == 150L)
  }
}
