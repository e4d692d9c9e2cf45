package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path, Paths}
import java.sql.Timestamp
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.crawl.Crawl

/**
 * The benchmark process: one workload in a fresh JVM. It builds the session
 * with the settings every workload shares, times the first operation after
 * set-up (more start only while `--seconds` have not passed), observes each
 * operation's output for the checks, and prints one `PERFBENCH_RESULT {json}`
 * line. With `--trace 1` it also registers [[Tracer]] and reports the
 * per-layer numbers of the first operation.
 *
 * Run through `perfbench/run.py`, which builds this package, launches it and
 * turns the raw record into the benchmark's metrics.
 */
object Harness {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: Path, data: Path, cores: Int, size: String, invariants: Boolean,
      recordSeeds: Seq[Long])

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      Paths.get(m("work")), Paths.get(m("data")), m("cores").toInt, m.getOrElse("size", "full"),
      m.get("invariants").contains("1"),
      m.get("record").toSeq.flatMap(_.split(',')).filter(_.nonEmpty).map(_.toLong))
  }

  /** Session settings shared by every workload. They mirror the query-timing
    * session of `graft.Bench` at this host's core count, with Spark's
    * scratch space inside the benchmark's work directory. */
  def settings(cores: Int, work: Path): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cores]",
    "spark.app.name" -> "graft-perfbench",
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.local.dir" -> work.resolve("spark-local").toString,
    "spark.sql.warehouse.dir" -> work.resolve("warehouse").toString,
    "spark.sql.adaptive.enabled" -> "true",
    "spark.shuffle.compress" -> "false",
    "spark.shuffle.spill.compress" -> "false",
    "spark.sql.files.maxPartitionBytes" -> (16 * 1024 * 1024).toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false")

  /** A stable 31-bit mix of the seed, for deriving inputs. */
  def mix(seed: Long, salt: Long): Long = {
    var x = seed * 0x9E3779B97F4A7C15L + salt
    x = (x ^ (x >>> 31)) * 0xBF58476D1CE4E5B9L
    ((x ^ (x >>> 29)) >>> 33) & 0x7fffffffL
  }

  // ---------------------------------------------------------------- workloads

  /** One benchmark operation type. `run` is the timed part; `observe` reads
    * its outputs for the checks, untimed. */
  trait Workload {
    def layer: String
    def name(i: Int): String
    def run(i: Int, trace: Option[OpTrace]): Any
    /** (items of work, observations for the checks) */
    def observe(i: Int, done: Any): (Long, Map[String, Any])
    def finish(): Map[String, Any] = Map.empty
  }

  /** frontier: timed `Crawl.run` plus the schedule count (the frozen
    * harness's crawl timing), at a seed-offset scale. */
  final class Frontier(spark: SparkSession, cfg: Crawl.Config, invariants: Boolean) extends Workload {
    val layer = Layers.Frontier
    def name(i: Int) = s"crawl$i"
    def run(i: Int, trace: Option[OpTrace]): Any = {
      val r = Crawl.run(spark, cfg)
      r.schedule.count()
      r
    }
    def observe(i: Int, done: Any): (Long, Map[String, Any]) = {
      val r = done.asInstanceOf[Crawl.Result]
      val (sh, sn, eh, en) = Checks.fingerprint(r.schedule, r.seen)
      val inv = if (invariants) Map("invariants" -> Checks.crawlInvariants(r.schedule)) else Map.empty
      (sn, Map("scheduled" -> sn, "seen" -> en, "schedule_fp" -> sh, "seen_fp" -> eh) ++ inv)
    }
  }

  /** daemon-cron: consecutive `Daemon.run` cycles over the site fleet; the
    * cache, out/ and snapshot dirs persist between cycles. */
  final class DaemonCron(spark: SparkSession, dir: Path, seed: Long, scale: Long, limit: Long,
      invariants: Boolean) extends Workload {
    val layer = "daemon"
    private val base = Timestamp.valueOf("2026-01-15 00:00:00").getTime + mix(seed, 7) % 60 * 86400000L
    def rev(i: Int): Int = ((seed + i) % 2).toInt
    def now(i: Int): Timestamp = new Timestamp(base + i * 86400000L)
    def opts(i: Int) = graft.Daemon.Options(out = dir.resolve("out").toString,
      cache = dir.resolve("cache").toString, limit = limit, scale = scale, rev = rev(i),
      snapshotDir = Some(dir.resolve("snapshots").toString), now = now(i))
    def name(i: Int) = s"cycle$i"
    def run(i: Int, trace: Option[OpTrace]): Any = graft.Daemon.run(spark, opts(i))
    def observe(i: Int, done: Any): (Long, Map[String, Any]) = {
      val r = done.asInstanceOf[graft.Daemon.RunResult]
      val top = r.pipeline.topPosts.count()
      val out = dir.resolve("out")
      val inv = if (invariants) Map("invariants" -> Checks.daemonInvariants(r, out, limit)) else Map.empty
      (top, Map("top" -> top, "rev" -> rev(i), "failed_sites" -> r.failedSites.keys.toSeq.sorted,
        "tree_hash" -> Checks.treeHash(Seq(out.resolve("sites"), out.resolve("rss")))) ++ inv)
    }
  }

  /** query-suite: one pass over the suite's queries, one `count()` each.
    * `hashSeed` picks the third of the queries whose content hash this run
    * checks; consecutive seeds cover every query. */
  final class QuerySuite(spark: SparkSession, data: String, names: Seq[String], hashSeed: Long)
      extends Workload {
    val layer = "queries"
    private val fns = graft.SparkEntry.queries
    def name(i: Int) = s"pass$i"
    def run(i: Int, trace: Option[OpTrace]): Any = names.map { q =>
      val t0 = System.nanoTime()
      val r: Either[String, Long] =
        try Right(fns(q)(spark, data).count())
        catch { case e: Throwable => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)) }
      val s = (System.nanoTime() - t0) / 1e9
      trace.foreach { t =>
        val g = s"queries.${Suite.group(q)}_s"
        t.extra(g) = t.extra.getOrElse(g, 0.0) + s
        Suite.leaves.get(q).foreach(leaf => t.extra(leaf) = s)
      }
      Map[String, Any]("q" -> q, "s" -> s) ++
        r.fold(e => Map("error" -> e), n => Map("rows" -> n))
    }
    def observe(i: Int, done: Any): (Long, Map[String, Any]) =
      (names.size.toLong, Map("queries" -> done))
    // content hashes, computed after the timed passes
    override def finish(): Map[String, Any] = Map("hashes" -> names.zipWithIndex
      .filter { case (_, k) => hashSeed < 0 || (k - hashSeed) % 3 == 0 }
      .map { case (q, _) =>
        q -> (try Checks.contentHash(fns(q)(spark, data)) catch { case _: Throwable => null })
      }.toMap)
  }

  // ---------------------------------------------------------------- process

  private def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum

  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP)

  private def codegen: (Long, Double) = {
    val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    val snap = h.getSnapshot
    // the histogram keeps every sample until its 1028-slot reservoir fills
    val totalMs = if (h.getCount <= snap.size) snap.getValues.sum.toDouble
                  else snap.getMean * h.getCount
    (h.getCount, totalMs / 1000.0)
  }

  private def vmHwmMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  private def session(a: Args): SparkSession = {
    val b = SparkSession.builder()
    settings(a.cores, a.work).foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.GraftFunctions.registerAll(spark)
    spark.range(0, 100000, 1, a.cores).select(sum(col("id"))).collect()
    spark
  }

  def frontierConfig(seed: Long, size: String): Crawl.Config = {
    val (scale, limit) = Sizes.frontier(size)
    // the seed moves the scale by up to +-2 %, which changes the post
    // count of every site below the per-site limit
    Crawl.Config(scale = scale * (1000 + mix(seed, 1) % 41 - 20) / 1000, limitPerSite = limit)
  }

  def main(argv: Array[String]): Unit = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val a = parse(argv)
    Files.createDirectories(a.work)
    val spark = session(a)
    val data = a.data.toString
    if (a.recordSeeds.nonEmpty) { Record(spark, a); spark.stop(); return }

    val workload: Workload = a.workload match {
      case "frontier" => new Frontier(spark, frontierConfig(a.seed, a.size), a.invariants)
      case "daemon-cron" =>
        val dir = a.work.resolve("daemon")
        Checks.deleteTree(dir)
        val (scale, limit) = Sizes.daemon(a.size)
        new DaemonCron(spark, dir, a.seed, scale, limit, a.invariants)
      case "query-suite" => new QuerySuite(spark, data, Sizes.queries(a.size), a.seed)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val setupS = (System.currentTimeMillis() - jvmStart) / 1000.0

    val tracer = if (a.trace) {
      val t = new Tracer(spark.sparkContext)
      spark.sparkContext.addSparkListener(t)
      spark.listenerManager.register(t)
      Some(t)
    } else None

    // Operations start while less than --seconds have passed since the
    // first began; the first is the measured one. A trace run adds a pair
    // of operations, one traced and one not, for the tracing overhead; the
    // seed's parity decides which of the two runs first.
    val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
    val walls = mutable.ArrayBuffer.empty[Double]
    var first: Option[(OpTrace, Double, Double, (Long, Double))] = None
    val tracedOfPair = if (a.seed % 2 == 0) 2 else 1
    val start = System.nanoTime()
    var i = 0
    while (i < (if (tracer.isDefined) 3 else 1) ||
        (System.nanoTime() - start < a.seconds * 1e9 && i < Sizes.maxOps)) {
      val traced = tracer.isDefined && (i == 0 || i == tracedOfPair)
      val t = if (traced) Some(new OpTrace(i, workload.name(i), workload.layer)) else None
      heapPools.foreach(_.resetPeakUsage())
      val gc0 = gcMs
      t.foreach(x => tracer.get.begin(x))
      val t0 = System.nanoTime()
      val done: Either[String, Any] =
        try Right(workload.run(i, t))
        catch { case e: Throwable => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)) }
      val wall = (System.nanoTime() - t0) / 1e9
      t.foreach(x => tracer.get.end(x))
      if (i == 0) first = t.map(x => (x, (gcMs - gc0) / 1000.0,
        heapPools.map(_.getPeakUsage.getUsed).sum / (1024.0 * 1024.0), codegen))
      walls += wall
      ops += (done match {
        case Left(err) => Map[String, Any]("i" -> i, "error" -> err)
        case Right(d) =>
          try {
            val (items, obs) = workload.observe(i, d)
            Map[String, Any]("i" -> i, "wall_s" -> wall, "items" -> items, "obs" -> obs)
          } catch { case e: Throwable =>
            Map[String, Any]("i" -> i,
              "error" -> s"check: ${e.getClass.getSimpleName}: ${e.getMessage}".take(300)) }
      })
      i += 1
    }
    val finish = try workload.finish() catch {
      case e: Throwable => Map("finish_error" -> s"${e.getClass.getSimpleName}: ${e.getMessage}")
    }

    // per-layer numbers describe the measured (first) operation
    val layers: Map[String, Any] = first.map { case (t, gcS, heapMb, (classes, compileS)) =>
      val spansFile = a.work.resolve(s"spans-${a.workload}.jsonl")
      Files.write(spansFile, t.spanRecords.map(Json.write).asJava)
      t.metrics ++ Map(
        "jvm.gc_s" -> gcS,
        "jvm.heap_peak_mb" -> heapMb,
        "codegen.compile_s" -> compileS,
        "codegen.classes" -> classes.toDouble,
        "trace.overhead_s" -> (walls(tracedOfPair) - walls(3 - tracedOfPair)),
        "trace.spans_file" -> a.work.relativize(spansFile).toString)
    }.getOrElse(Map.empty)

    val result = Map[String, Any](
      "workload" -> a.workload, "seed" -> a.seed, "setup_s" -> setupS,
      "peak_rss_mb" -> vmHwmMb, "ops" -> ops.toSeq, "finish" -> finish, "layers" -> layers,
      "provenance" -> Map(
        "cores" -> a.cores, "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
        "jdk" -> s"${sys.props("java.vm.name")} ${sys.props("java.version")}",
        "spark" -> spark.version, "size" -> a.size,
        "settings" -> settings(a.cores, a.work).toMap.map { case (k, v) =>
          k -> (if (k.endsWith(".dir")) a.work.getParent.relativize(Paths.get(v)).toString else v) }))
    spark.stop()
    println("PERFBENCH_RESULT " + Json.write(result))
  }
}
