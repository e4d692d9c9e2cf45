package graft.crawl

import graft.SparkSuite
import org.apache.spark.sql.functions._

/** S8: the ssupath SSO session bootstrap (sso.rs:26-92) and its
  * once-per-partition wiring in the crawl fetch stage. */
class SsoSpec extends SparkSuite {

  test("bootstrap scrapes the login form token and mints a valid session") {
    val s = Sso.bootstrap("path.ssu.ac.kr")
    assert(s.host === "path.ssu.ac.kr")
    Sso.authorize(Some(s), "path.ssu.ac.kr") // must not throw
    // deterministic: a re-login yields the same session
    assert(Sso.bootstrap("path.ssu.ac.kr") === s)
  }

  test("unauthenticated or cross-host fetches are rejected") {
    intercept[IllegalStateException] { Sso.authorize(None, "path.ssu.ac.kr") }
    val other = Sso.bootstrap("biz.ssu.ac.kr")
    intercept[IllegalStateException] { Sso.authorize(Some(other), "path.ssu.ac.kr") }
    intercept[IllegalStateException] {
      Sso.authorize(Some(Sso.Session("path.ssu.ac.kr", "forged")), "path.ssu.ac.kr")
    }
    // and the synthetic fetch path enforces it end-to-end
    val site = SyntheticWeb.siteById("path.ssu.ac.kr")
    intercept[IllegalStateException] {
      SyntheticWeb.expand(
        SyntheticWeb.Req(site.site_id, "list", 1, 0, 0),
        100, 10, 0, session = None)
    }
  }

  test("crawl fetch stage bootstraps ONCE per partition, not per fetched row") {
    val r = Crawl.run(spark, Crawl.Config(scale = 5000, limitPerSite = 2000,
      include = Seq("path.ssu.ac.kr")))
    val posts = r.posts.count()
    assert(posts >= 1000, s"auth site must actually be crawled (got $posts posts)")
    val inits = r.ssoBootstraps.value
    assert(inits > 0, "the fetch stage must have bootstrapped a session")
    // init count is bounded by partitions x waves x materializations —
    // orders of magnitude below one-per-row
    val bound = spark.sparkContext.defaultParallelism.toLong * 2 * 4
    assert(inits <= bound, s"$inits session inits for $posts rows (bound $bound)")
    assert(inits * 5 <= posts, s"per-row bootstraps suspected: $inits inits / $posts rows")
  }
}
