package graft.crawl

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/**
 * The Spark face of [[SyntheticWeb.urlAt]]: the frontier stores only a
 * row's (site_id, kind, page, row) coordinates, and this kernel turns them
 * back into the URL string at the consumption edges (the `keyFrontier`
 * canonicalize/robots stage and the wave stage-out read) — the same
 * recompute-don't-carry treatment `canonical` and `host` get: shuffle
 * keys and metadata, recompute heavy strings at the edge, because per-row
 * CPU is not the contended resource, shuffle and parquet bytes are.
 */
object UrlGrammar {

  /** [[SyntheticWeb.urlAt]] over Spark's string type. */
  def rebuildUrl(siteId: UTF8String, kind: UTF8String, page: Int, row: Int,
      scale: Long, rev: Int): UTF8String =
    UTF8String.fromString(SyntheticWeb.urlAt(SyntheticWeb.siteById(siteId.toString),
      kind.toString, page, row, scale, rev))

  /** Codegen'd column form (StaticInvoke — no UDF serialization). */
  def rebuild_url(siteId: Column, kind: Column, page: Column, row: Column,
      scale: Long, rev: Int): Column =
    ColumnBridge.column(StaticInvoke(UrlGrammar.getClass, StringType,
      "rebuildUrl",
      Seq(ColumnBridge.expression(siteId), ColumnBridge.expression(kind),
        ColumnBridge.expression(page), ColumnBridge.expression(row),
        ColumnBridge.expression(lit(scale)), ColumnBridge.expression(lit(rev))),
      inputTypes = Seq(StringType, StringType, IntegerType, IntegerType,
        LongType, IntegerType)))
}
