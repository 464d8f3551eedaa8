package graft

import graft.functions.PolyHash

/** The SQL entry point: registered temp views + the custom expressions
  * callable from spark.sql, matching their Column-API values.
  */
class SqlSurfaceSpec extends SparkSpec {

  test("custom expressions are callable from SQL and match the JVM spec") {
    val r = spark.sql(
      "SELECT poly_hash('abc') AS h, cosine_sim(array(1.0F, 0.0F), array(1.0F, 0.0F)) AS c, " +
        "dot_product(array(2.0F, 3.0F), array(4.0F, 5.0F)) AS d, " +
        "size(shingle_hashes('a b c d')) AS ns").first()
    assert(r.getLong(0) == PolyHash.hash("abc"))
    assert(math.abs(r.getDouble(1) - 1.0) < 1e-12)
    assert(math.abs(r.getDouble(2) - 23.0) < 1e-12)
    assert(r.getInt(3) == 2) // "a b c", "b c d"
    // damerau_levenshtein: unrestricted transposition (CA->AC->ABC = 2)
    val dl = spark.sql(
      "SELECT damerau_levenshtein('CA', 'ABC') AS a, " +
        "damerau_levenshtein('ab', 'ba') AS b, " +
        "damerau_levenshtein('kitten', 'sitting') AS c").first()
    assert(dl.getInt(0) == 2 && dl.getInt(1) == 1 && dl.getInt(2) == 3)
    // lsh_bucket from SQL == the Column-API bucket on the same vector
    import spark.implicits._
    val vecSql = "array(" + (1 to 8).map(i => s"${i % 3}.5F").mkString(", ") + ")"
    val sqlBkt = spark.sql(s"SELECT lsh_bucket($vecSql, 4, 8, 7) AS b").first().getLong(0)
    import org.apache.spark.sql.functions._
    val apiBkt = Seq(Tuple1((1 to 8).map(i => (i % 3) + 0.5f).toArray)).toDF("v")
      .select(graft.ext.SimilaritySearch.bucket(col("v"),
        graft.ext.SimilaritySearch.planes(4, 8, 7)).as("b"))
      .first().getLong(0)
    assert(sqlBkt == apiBkt)
  }

  test("every engine SQL function resolves from the extension alone") {
    // a new session shares no temp functions with this suite's session,
    // so only GraftExtensions' injected table is in scope
    val fresh = spark.newSession()
    val names = Seq("poly_hash", "cosine_sim", "dot_product",
      "shingle_hashes", "tokenize_with_offsets", "lsh_bucket", "word_ngrams",
      "nfc_normalize", "winnowed_fingerprints", "jaro_winkler",
      "damerau_levenshtein", "l2_distance", "hilbert_index")
    assert(GraftExtensions.functions.map(_._1) == names)
    names.foreach(n => assert(fresh.catalog.functionExists(n), n))
    val r = fresh.sql(
      "SELECT nfc_normalize('cafe\u0301') AS n, " +
        "damerau_levenshtein('ab', 'ba') AS d").first()
    assert(r.getString(0) == "caf\u00e9" && r.getInt(1) == 1)
  }

  test("Engine.session sets the engine's confs and leaves AQE at Spark's defaults") {
    val sc = spark.sparkContext
    assert(sc.master == "local[4]" && sc.defaultParallelism == 4)
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(sc.getConf.get("spark.ui.enabled") == "false" && sc.uiWebUrl.isEmpty)
    assert(spark.conf.get(
      "spark.sql.streaming.stateStore.maintenanceInterval") == "1h")
    // not set by the factory: these are Spark's own defaults
    Seq("spark.sql.adaptive.enabled",
      "spark.sql.adaptive.coalescePartitions.enabled",
      "spark.sql.adaptive.skewJoin.enabled").foreach { k =>
      assert(spark.conf.get(k) == "true", k)
    }
  }

  test("registered views answer plain SQL (wordcount in one statement)") {
    Engine.registerViews(spark, sf0001)
    val n = spark.sql(
      """SELECT word, count(*) AS cnt
        |FROM (SELECT explode(filter(split(regexp_replace(text, '[^a-zA-Z0-9 ]', ''), ' '),
        |        w -> length(w) > 0)) AS word
        |      FROM documents)
        |GROUP BY word ORDER BY cnt DESC""".stripMargin)
    assert(n.count() == 31) // the fixture vocabulary
    assert(spark.sql("SELECT count(*) FROM lineitem").first().getLong(0) == 6000L)
  }
}
