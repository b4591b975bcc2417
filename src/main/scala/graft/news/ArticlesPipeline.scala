package graft.news

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Urls
import graft.io.DocStore

/** The news-ARTICLES half of SURVEY §3.3 as one intake call — the daily
  * DAG the reference runs per domain
  * (`news_articles_ingest_get_articles/main.py:104-190` +
  * `queue_duplicates/main.py:29-52` + `delete_duplicate/main.py:30-44`),
  * restated batch-first: the per-url HTTP fetches of the serverless
  * original arrive here as ONE table of scraper outputs, and the
  * pipeline is everything around them —
  *
  *  1. the P12 "url must contain its domain" guard
  *     ([[News.articlesMatchingDomain]], `main.py:114-116`);
  *  2. the J10 registry gate: drop urls already in the scraped or 404
  *     registry ([[News.unscrapedUrls]], `main.py:118-127`), keyed by
  *     the STRIPPED url exactly as the reference stores it;
  *  3. fresh successful scrapes → `news_articles` envelopes
  *     ([[News.articleDocs]]) indexed into the [[DocStore]], plus a
  *     scraped-registry row per doc (`main.py:158-190`); 404s land in
  *     the 404 registry (`main.py:145-153`);
  *  4. the A2 keep-oldest dedup queue over the last day's docs
  *     ([[News.duplicateArticles]], `queue_duplicates/main.py:36-52`)
  *     drained by deleting each queued doc AND its registry row
  *     (`delete_duplicate/main.py:30-44`).
  *
  * Doc identity: ES autogenerates `_id` in the reference, so re-scrapes
  * of one url become SEPARATE docs that the daily dedup then reaps.
  * Modeled deterministically: doc_id = md5(url | last_indexed) — unique
  * per (url, run), replay-stable, and duplicate docs across runs are
  * exactly what the A2 queue exists to find.
  *
  * Scale: every stage is a key join or keyed store write; the store is
  * hash-bucketed (see [[graft.io.BucketedParquet]] for what a batch
  * rewrites), and the dedup queue reads only the last day's slice.
  */
object ArticlesPipeline {

  final case class Summary(
      candidates: Long,
      inDomain: Long,
      fresh: Long,
      indexed: Long,
      notFound: Long,
      duplicatesDeleted: Long,
      articleDocs: Long)

  /** `scraperOut` columns mirror the scraper result per candidate url:
    * url, domain, scraper, status ('ok' | '404' | 'error'), title,
    * date, authors, text, keywords, description, language,
    * canonical_link, meta_sitename, source_url. */
  def run(spark: SparkSession, scraperOut: DataFrame, docs: DocStore,
      runTs: Column): Summary = {
    val candidates = scraperOut.persist()
    // 1. P12: throw out articles not actually from their domain
    val inDomain = News.articlesMatchingDomain(candidates)
    // 2. J10: registry membership on the stripped DE-PROXIED url — the
    // exact form the registry rows store (strip_url(extracted.url)
    // below, where extracted.url is parse_proxy'd). Stripping the raw
    // url would strip the PROXY host for proxy-wrapped candidates and
    // never match the registry, re-scraping them every run.
    val stripped = inDomain.withColumn("__url_raw", col("url"))
      .withColumn("url", Urls.strip_url(News.parseProxyCol(col("url"))))
    val emptyReg = stripped.select(col("url")).limit(0)
    val scrapedReg = docs.read("news_scraped")
      .map(_.select(col("url"))).getOrElse(emptyReg)
    val notFoundReg = docs.read("news_404")
      .map(_.select(col("url"))).getOrElse(emptyReg)
    // pinned: the registry writes below swap the very files this gate
    // reads (the insertNew pattern)
    val fresh = News.unscrapedUrls(stripped, scrapedReg, notFoundReg)
      .withColumn("url_stripped", col("url"))
      .withColumn("url", col("__url_raw")).drop("__url_raw")
      .localCheckpoint(true)
    // 3. successful scrapes → envelopes + registry; 404s → 404 registry
    val ok = fresh.filter(col("status") === "ok")
    val env = News.articleDocs(ok, runTs)
      .withColumn("doc_id", md5(concat_ws("|", col("extracted.url"),
        col("context.last_indexed").cast("string"))))
    docs.index("news_articles", "doc_id", env)
    docs.index("news_scraped", "doc_id", env.select(col("doc_id"),
      Urls.strip_url(col("extracted.url")).as("url"),
      col("context.scraper").as("scraper"),
      col("context.last_indexed").as("datetime")))
    val nf = fresh.filter(col("status") === "404")
      .select(col("url_stripped").as("url")).withColumn("datetime", runTs)
    docs.index("news_404", "url", nf)
    // 4. A2 dedup queue over the last day, drained as deletes
    val nDupes = docs.read("news_articles").fold(0L) { stored =>
      val recent = stored
        .filter(col("context.last_indexed") >
          runTs.cast("timestamp") - expr("INTERVAL 1 DAY"))
        .select(col("doc_id").as("article_id"),
          col("extracted.url").as("url"),
          col("context.last_indexed").as("last_indexed"))
      // pinned BEFORE the deletes rewrite the buckets this queue was
      // computed from
      val dupes = News.duplicateArticles(recent)
        .select(col("article_id").as("doc_id")).localCheckpoint(true)
      docs.delete("news_articles", "doc_id", dupes)
      docs.delete("news_scraped", "doc_id", dupes)
      dupes.count()
    }
    val summary = Summary(
      candidates = candidates.count(),
      inDomain = inDomain.count(),
      fresh = fresh.count(),
      indexed = env.count(),
      notFound = nf.count(),
      duplicatesDeleted = nDupes,
      articleDocs = docs.read("news_articles").map(_.count()).getOrElse(0L))
    candidates.unpersist()
    summary
  }
}
