package perfbench

import java.nio.file.{Files, Path}
import java.security.MessageDigest
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Output checks. The crawl fingerprint re-implements the frozen harness's
  * (private) `Bench.fingerprint`, so the golden values are comparable. */
object Checks {

  // hashes folded to 32 bits before summing: no long overflow below ~2^31
  // rows, still order- and content-sensitive
  private def h32(c: Column) = shiftrightunsigned(c, 32)

  /** (order-sensitive schedule hash, schedule rows, orderless seen-set hash,
    * seen rows). The schedule is ranked per wave under the canonical crawl
    * order; wave leads that order, so (wave, rank) is a total order. */
  def fingerprint(schedule: DataFrame, seen: DataFrame): (Long, Long, Long, Long) = {
    val w = Window.partitionBy("wave")
      .orderBy("ready_ms", "host", "site_id", "page", "row", "canonical")
    val s = schedule.withColumn("_ord", row_number().over(w))
      .select(sum(h32(xxhash64(col("wave"), col("_ord"), col("canonical"), col("url_hash"),
        col("ready_ms")))).as("h"), count(lit(1)).as("n"))
      .collect()(0)
    val e = seen.select(sum(h32(xxhash64(col("url_hash")))).as("h"), count(lit(1)).as("n"))
      .collect()(0)
    (s.getLong(0), s.getLong(1), e.getLong(0), e.getLong(1))
  }

  /** Seed-independent properties of a crawl schedule; returns the violated ones. */
  def crawlInvariants(schedule: DataFrame): Seq[String] = {
    val t = schedule.agg(count(lit(1)), countDistinct(col("url_hash"))).collect()(0)
    val dupes = if (t.getLong(0) != t.getLong(1)) Seq("url_hash repeats") else Seq.empty
    // the k-th fetch of a host in a wave is due at k * crawl_delay
    val badHosts = schedule.groupBy("wave", "host")
      .agg(count(lit(1)).as("n"), countDistinct(col("ready_ms")).as("d"),
        min(col("ready_ms")).as("lo"), max(col("ready_ms")).as("hi"),
        min(col("crawl_delay_ms")).as("c0"), max(col("crawl_delay_ms")).as("c1"))
      .filter(col("n") =!= col("d") || col("lo") =!= 0 || col("c0") =!= col("c1") ||
        col("hi") =!= (col("n") - 1) * col("c0"))
      .count()
    dupes ++ (if (badHosts > 0) Seq(s"$badHosts hosts break the politeness clock") else Seq.empty)
  }

  /** Properties of one daemon cycle that hold for any rev/now sequence. */
  def daemonInvariants(r: graft.Daemon.RunResult, out: Path, limit: Long): Seq[String] = {
    val perSite = r.pipeline.cache.groupBy("site_id").count().collect()
      .map(row => math.min(row.getLong(1), limit)).sum
    val top = r.pipeline.topPosts.count()
    val sites = r.pipeline.topPosts.select("site_id").distinct().count()
    val dirs = Files.list(out.resolve("sites")).iterator().asScala
      .count(_.getFileName.toString.startsWith("site_id="))
    Seq(
      if (top != perSite) Some(s"top-K $top != sum of per-site min(rows, limit) $perSite") else None,
      if (dirs < sites) Some(s"sites/ has $dirs site dirs for $sites sites") else None).flatten
  }

  /** SHA-256 of a set of Spark output trees, independent of part-file names:
    * per partition directory, the sorted lines of all its data files. */
  def treeHash(roots: Seq[Path]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    roots.foreach { root =>
      val files = Files.walk(root)
      val byDir = try files.iterator().asScala
        .filter(p => Files.isRegularFile(p) && !p.getFileName.toString.startsWith(".") &&
          !p.getFileName.toString.startsWith("_"))
        .toSeq.groupBy(p => root.getParent.relativize(p.getParent).toString)
      finally files.close()
      byDir.toSeq.sortBy(_._1).foreach { case (dir, ps) =>
        md.update(dir.getBytes("UTF-8"))
        ps.flatMap(p => Files.readAllLines(p).asScala).sorted
          .foreach(l => md.update((l + "\n").getBytes("UTF-8")))
      }
    }
    md.digest().map("%02x".format(_)).mkString
  }

  /** Orderless content hash of a query result: its row count and the sum of
    * 32-bit-folded row hashes over a JSON rendering of every column. */
  def contentHash(df: DataFrame): String = {
    val r = df.select(sum(h32(xxhash64(to_json(struct(df.columns.map(c => df.col(c)): _*)))))
      .as("h"), count(lit(1)).as("n")).collect()(0)
    s"${r.getLong(1)}:${if (r.isNullAt(0)) 0L else r.getLong(0)}"
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val walk = Files.walk(p)
    try walk.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
    finally walk.close()
  }
}
