package graft.streaming

import graft.SparkSuite
import graft.crawl.{Crawl, UrlGrammar}
import org.apache.spark.sql.functions._

/** The self-feeding streaming crawl drains the frontier and produces the
  * SAME posts + seen set as the batch wave loop. */
class StreamingCrawlSpec extends SparkSuite {
  import spark.implicits._

  test("streaming crawl == batch crawl on posts and seen set; frontier drains") {
    val cfg = Crawl.Config(scale = 100, limitPerSite = 20)
    val dir = java.nio.file.Files.createTempDirectory("graft-scrawl").toString
    val streamed = StreamingCrawl.run(spark, cfg, dir)
    val batch = Crawl.run(spark, cfg)

    // the stream needed >1 micro-batch: the discovered links really fed
    // back through the watched directory
    assert(streamed.batches >= 2, s"self-feeding loop ran ${streamed.batches} batch(es)")

    val sPosts = streamed.posts.select("site_id", "id", "url", "title", "content")
      .collect().map(_.mkString("|")).sorted.toSeq
    val bPosts = batch.posts.select("site_id", "id", "url", "title", "content")
      .collect().map(_.mkString("|")).sorted.toSeq
    assert(sPosts === bPosts)

    val sSeen = streamed.seen.select("url_hash").as[Long].collect().sorted.toSeq
    val bSeen = batch.seen.select("url_hash").as[Long].collect().sorted.toSeq
    assert(sSeen === bSeen)

    // drained: no unprocessed frontier rows remain (every written link is
    // in the seen set — a second run over the same state finds nothing new)
    val frontier = spark.read.parquet(s"$dir/frontier")
      .withColumn("url", UrlGrammar.rebuild_url(col("site_id"), col("kind"),
        col("page"), col("row"), cfg.scale, cfg.rev))
      .withColumn("url_hash",
        xxhash64(graft.functions.GraftFunctions.url_canonicalize(col("url"))))
    val unseen = frontier.join(streamed.seen, Seq("url_hash"), "left_anti")
      // robots-disallowed traps are the only legitimately-unfetched links
      .filter(!col("url").contains("/private/"))
    assert(unseen.count() === 0)
  }
}
