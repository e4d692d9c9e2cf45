package perfbench

/** Workload sizes. `full` is what the benchmark measures; `smoke` is the
  * self-test's small run of the same code paths. */
object Sizes {
  /** (scale, per-site limit) of the frontier crawl. */
  def frontier(size: String): (Long, Long) =
    if (size == "smoke") (3000L, 1000L) else (50000L, 15000L)

  /** (scale, per-site limit) of the daemon: the reference's 100-post limit. */
  def daemon(size: String): (Long, Long) =
    if (size == "smoke") (200L, 20L) else (1000L, 100L)

  def queries(size: String): Seq[String] =
    if (size == "smoke") Seq("q01_pricing_agg", "q34_crawl_schedule", "q88_streaming_dedup")
    else Suite.names

  /** Cap on operations per run, so a very fast op cannot flood a run. */
  val maxOps = 40
}

/**
 * The query-suite workload: a fixed subset of `graft.SparkEntry.queries`
 * that fits one run — the named leaves the roadmap tracks plus at least one
 * query of every module group.
 */
object Suite {
  /** query -> the module group its plan calls. */
  val group: Map[String, String] = {
    val g = Map(
      "relational" -> "q01 q02 q03 q06 q07 q08 q09 q10 q11 q12 q13 q55 q59 q61 q62 q74",
      "merge" -> "q04 q05 q94",
      "kernels" -> "q14 q15 q16 q17 q18 q19 q20 q21 q39 q40 q41 q42 q50",
      "spans" -> "q22 q23 q43 q47 q65 q71",
      "dedup" -> "q24 q25 q26 q27 q28 q51 q52 q53 q60 q85 q86 q87 q89 q96",
      "similarity" -> "q29 q30 q45 q48 q68 q83 q84",
      "text" -> "q31 q32 q33 q54 q56 q57 q63 q66 q67 q75 q76 q77 q78 q80 q81 q82 q90 q91",
      "crawl" -> "q34 q35 q36 q37 q38 q44 q46 q73 q79",
      "streaming" -> "q49 q58 q88",
      "recipe" -> "q64 q69 q70 q72 q92 q93 q95")
    val byPrefix = g.toSeq.flatMap { case (grp, qs) => qs.split(' ').map(_ -> grp) }.toMap
    graft.SparkEntry.queries.keys.map(q => q -> byPrefix.getOrElse(q.take(3), "other")).toMap
  }

  /** The roadmap's named leaves that fit a run -> their per-layer metric. */
  val leaves: Map[String, String] = Seq("q34_crawl_schedule", "q88_streaming_dedup",
    "q89_cross_corpus", "q60_containment", "q26_ngram_jaccard", "q63_tfidf")
    .map(q => q -> s"q.${q}_s").toMap

  /** The leaves plus one query of each group they leave out. */
  val names: Seq[String] = (leaves.keys.toSeq ++ Seq("q01_pricing_agg", "q04_merge_upsert",
    "q14_url_canonicalize", "q22_span_explode", "q29_ann_brute", "q31_token_count",
    "q69_mixture")).sorted
}

/** Minimal JSON rendering for the harness's record. */
object Json {
  def write(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => write(f.toDouble)
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => quote(k.toString) + ":" + write(x) }.mkString("{", ",", "}")
    case o: Option[_] => write(o.orNull)
    case xs: Iterable[_] => xs.map(write).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
