package graft.crawl

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Merge
import graft.sinks.{Rss, SiteJson}

/**
 * The daemon cycle (reference entry point, packages/cli/src/main.rs:82-126):
 * a finished crawl -> merge into the persistent per-site cache -> newest-first
 * top-K per site -> JSON + RSS feeds. The one compute half of a daemon run:
 * the CLI ([[graft.Daemon.run]]) wraps it in I/O, the q37/q38 queries
 * consume it directly.
 */
object Pipeline {

  final case class Output(
      topPosts: DataFrame, // top-K per crawled site, output order
      cache: DataFrame,    // merged cache (next run input): untouched ∪ touched
      touched: DataFrame,  // the crawled sites' merged slice (the write-back)
      siteJson: DataFrame,
      rss: DataFrame,
      events: DataFrame,   // post_created / post_updated
      schedule: DataFrame)

  /** The sites a cycle merges and feeds: the config's selection minus the
    * sites that failed mid-crawl. */
  def touchedSites(cfg: Crawl.Config, crawl: Crawl.Result): Seq[String] =
    Sites.selected(cfg.include, cfg.exclude).map(_.site_id).filterNot(crawl.failedSites.keySet)

  /** One daemon cycle over `crawl` (the result of `Crawl.run(spark, cfg)`),
    * merging the [[touchedSites]] and keeping the top `cfg.limitPerSite`
    * posts of each. */
  def cycle(cfg: Crawl.Config, crawl: Crawl.Result, cache: DataFrame, now: Timestamp): Output = {
    // arrival order of the new batch = crawl order (page, row) — join the
    // schedule (keyed by url) to recover it
    val order = crawl.schedule.select(col("url"),
      ((col("page").cast("long") * 1000000L) + col("row")).as("seq"))
    val newPosts = crawl.posts.join(order, Seq("url"), "left")
      .withColumn("seq", coalesce(col("seq"), lit(0L)))

    // INCREMENTAL merge — the product path for a 10^10-row cache:
    //  - only the crawled sites' partitions are SCANNED (partition pruning
    //    on the isin filter — untouched sites contribute zero read or
    //    shuffle rows to the merge);
    //  - within the touched slice, only cache rows whose (site_id, id)
    //    appears in the crawl batch enter the full-outer merge join (the
    //    batch's key set rides as a BROADCAST semi/anti join — the cache
    //    side needs no Exchange, and the shuffle is O(batch), not
    //    O(touched-site history); DaemonSpec audits the shuffle volume);
    //  - only the crawled sites' partitions are REWRITTEN (the daemon's
    //    dynamic partition overwrite) — a bounded per-run batch never
    //    rewrites the full cache state.
    // a site that failed mid-crawl keeps its previous cache partition
    // untouched (a failed plugin run must not disturb persisted state)
    val touched = touchedSites(cfg, crawl)
    val cacheTouched = cache.filter(col("site_id").isin(touched: _*))
    val cacheUntouched = cache.filter(!col("site_id").isin(touched: _*))
    val merged = Merge.mergeEntriesIncremental(cacheTouched, newPosts, now)
    // Canonical storage layout before the write-back: one exchange keyed by
    // site_id with a (rank, id) sort inside each site. This (a) writes ONE
    // file per site partition instead of one per (site × shuffle partition)
    // — the next run's partition-pruned read scans a single file per site
    // — and (b) makes the persisted bytes a pure function of the logical
    // cache state, so an identical daemon cycle publishes an identical
    // tree and the commit no-ops. The exchange moves only the touched
    // slice, which the dynamic partition overwrite is about to rewrite to
    // storage anyway; the MERGE itself no longer shuffles site history
    // (broadcast key semi/anti above).
    // localCheckpoint both stages it once for the several consumers below
    // AND breaks the cache-read lineage so the dynamic overwrite may write
    // back to the same path it was read from
    val touchedPosts = merged.posts
      .repartition(col("site_id"))
      .sortWithinPartitions(col("site_id"), col("rank"), col("id"))
      .localCheckpoint()
    // feeds cover the sites this run crawled (the reference daemon emits
    // outputs per crawled plugin, main.rs:192-243 — untouched sites keep
    // their previous outputs and are neither scanned nor rewritten)
    val top = Merge.topKPerSite(touchedPosts, cfg.limitPerSite.toInt)

    Output(
      topPosts = top,
      cache = cacheUntouched.select(touchedPosts.columns.map(col): _*).unionByName(touchedPosts),
      touched = touchedPosts,
      siteJson = SiteJson.perSite(top),
      rss = Rss.perSite(top),
      events = merged.events,
      schedule = crawl.schedule)
  }

  /** Empty cache with the Post+rank schema (first daemon run). */
  def emptyCache(spark: SparkSession): DataFrame = {
    import spark.implicits._
    spark.emptyDataset[graft.model.Post].toDF().withColumn("rank", lit(0L))
  }

  final case class CalendarOutput(events: DataFrame, cache: DataFrame, ics: String)

  /**
   * Calendar daemon path (reference run_calendar, core/mod.rs:219-267):
   * fetch the calendar site's YEAR pages for the requested range, parse the
   * month blocks into (starts_at, ends_at) events with partial-date range
   * inference ([[graft.parse.CalendarParser]], the full port of
   * ssu-academic-calendar lib.rs:104-271), merge replace-in-range against
   * the cache, render the in-range output to one ICS document (with real
   * DTEND lines). Parsing is distributed (one task per year page);
   * per-event VEVENT rendering is distributed too — the driver only
   * concatenates the final block strings.
   */
  def runCalendar(
      spark: SparkSession,
      cache: DataFrame,
      start: java.sql.Timestamp,
      end: java.sql.Timestamp,
      scale: Long): CalendarOutput = {
    import spark.implicits._
    val site = Sites.all.find(_.family == "calendar").get
    val years = (start.toLocalDateTime.getYear to end.toLocalDateTime.getYear).toList
    val parsed = spark.createDataset(years).flatMap { y =>
      val pageUrl = SyntheticWeb.listUrl(site, y - 2024)
      graft.parse.CalendarParser.parseYearPage(
        SyntheticWeb.calendarYearHtml(y, scale), y, pageUrl)
    }.toDF()
    // the merge contract takes new entries all inside [start, end]
    val events = parsed.filter(col("starts_at").between(lit(start), lit(end)))
    val merged = graft.operators.Merge.mergeCalendarReplaceInRange(cache, events, start, end)
    val output = graft.operators.Merge.calendarInRange(merged, start, end)
    val ics = graft.sinks.Ics.toIcsDistributed(
      "SSU Academic Calendar", "https://scatch.ssu.ac.kr/학사일정", "학사일정",
      output.as[graft.model.CalendarEvent])
    CalendarOutput(output, merged, ics)
  }
}
