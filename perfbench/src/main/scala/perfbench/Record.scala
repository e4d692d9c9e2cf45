package perfbench

import org.apache.spark.sql.SparkSession
import graft.crawl.Crawl

/** Golden-value recording: the check values of a workload for a list of
  * seeds, printed as one `PERFBENCH_RECORD {json}` line for run.py. */
object Record {
  val daemonCycles = 3

  def apply(spark: SparkSession, a: Harness.Args): Unit = {
    val rec: Map[String, Any] = a.workload match {
      case "frontier" => a.recordSeeds.map { seed =>
        val r = Crawl.run(spark, Harness.frontierConfig(seed, a.size))
        val (sh, sn, eh, en) = Checks.fingerprint(r.schedule, r.seen)
        seed.toString -> Map("scheduled" -> sn, "seen" -> en, "schedule_fp" -> sh, "seen_fp" -> eh)
      }.toMap
      case "daemon-cron" =>
        val (scale, limit) = Sizes.daemon(a.size)
        a.recordSeeds.map { seed =>
          val dir = a.work.resolve("daemon-record")
          Checks.deleteTree(dir)
          val w = new Harness.DaemonCron(spark, dir, seed, scale, limit, invariants = false)
          seed.toString -> (0 until daemonCycles).map { i =>
            val obs = w.observe(i, w.run(i, None))._2
            Map("top" -> obs("top"), "tree_hash" -> obs("tree_hash"))
          }
        }.toMap
      case "query-suite" =>
        val w = new Harness.QuerySuite(spark, a.data.toString, Sizes.queries(a.size), hashSeed = -1)
        val rows = w.run(0, None).asInstanceOf[Seq[Map[String, Any]]]
          .map(q => q("q").toString -> q.getOrElse("rows", null)).toMap
        val hashes = w.finish()("hashes").asInstanceOf[Map[String, Any]]
        rows.keys.map(q => q -> Map("rows" -> rows(q), "hash" -> hashes(q))).toMap
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    println("PERFBENCH_RECORD " + Json.write(rec))
  }
}
