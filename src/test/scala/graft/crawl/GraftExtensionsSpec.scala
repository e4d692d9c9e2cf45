package graft.crawl

import graft.SparkSuite
import graft.functions.CuckooFilter
import org.apache.spark.sql.graftprobe.ExtensionsProbe

class GraftExtensionsSpec extends SparkSuite {

  private def registeredNames(s: org.apache.spark.sql.SparkSession): Set[String] =
    s.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry.listFunction().map(_.funcName).toSet

  test("the extensions route injects exactly the functions registerAll registers") {
    val injected = ExtensionsProbe.functions(new graft.GraftExtensions)
      .listFunction().map(_.funcName).toSet
    val fresh = spark.newSession()
    val builtins = registeredNames(fresh)
    graft.functions.GraftFunctions.registerAll(fresh)
    val registered = registeredNames(fresh) -- builtins
    assert(injected === registered,
      s"only injected: ${injected -- registered}; only registered: ${registered -- injected}")
    assert(injected.contains("url_canonicalize") && injected.contains("cuckoo_might_contain"))
  }

  test("withExtensions exposes graft SQL functions in a fresh session") {
    // a session whose only graft functions come from the extension (the
    // shared test session has them from registerAll instead)
    val ext = ExtensionsProbe.session(spark, new graft.GraftExtensions)
    val plain = ExtensionsProbe.session(spark, _ => ())
    val probe = "SELECT url_canonicalize('HTTP://X.Y:80/a/../b?z=1&a=2')"
    intercept[org.apache.spark.sql.AnalysisException](plain.sql(probe).collect())
    assert(ext.sql(probe).collect()(0).getString(0) === "http://x.y/b?a=2&z=1")

    val filter = new CuckooFilter(16L)
    filter.insert(7L)
    val filterHex = filter.serialize().map(b => f"$b%02X").mkString
    // one call per signature shape, evaluated through both routes
    val calls = Seq(
      "url_resolve('http://x.y/a/b', '../c')",
      "simhash64('the quick brown fox')",
      "shingle_hash64('a b c d', 2)",
      "word_ngrams('a b c', 2)",
      "chunk_text_stride('a b c d e', 2, 1)",
      "md5_minhash_bands('a b c d e', 2, 6, 3)",
      "minhash_bands(shingle_hash64('a b c d', 2), 2, 2)",
      "hyperplane_sigs(array(1.0D, -2.0D, 0.5D), 4, 2)",
      "cosine_sim(array(1.0D, 0.0D), array(1.0D, 1.0D))",
      s"cuckoo_might_contain(X'$filterHex', 7L)")
    val sql = calls.zipWithIndex.map { case (c, i) => s"$c AS c$i" }.mkString("SELECT ", ", ", "")
    val viaExtensions = ext.sql(sql).collect()(0).toSeq
    val viaRegisterAll = spark.sql(sql).collect()(0).toSeq
    assert(viaExtensions === viaRegisterAll)
    viaExtensions.zip(calls).foreach { case (v, c) => assert(v != null, c) }
    assert(viaExtensions.last === true)
  }
}
