package graft

import java.nio.file.Files

import org.apache.spark.sql.functions.{col, expr}

import graft.io.Tables

/** Pins the fixture facts that oracle SQL is authored against — static
  * DuckDB strings can't derive them at runtime the way the Spark side
  * does, so a silent fixture change must fail HERE, loudly, instead of
  * diverging a hash compare downstream.
  */
class FixtureSpec extends SparkSpec {

  test("events carries exactly the five fixture event types (q330's " +
    "burned-in BH thresholds assume m = 5 hypotheses)") {
    Seq(sf0001, "/root/testdata/sf0.01").foreach { dir =>
      val types = Tables.load(spark, dir, "events")
        .select("event_type").distinct()
        .collect().map(_.getString(0)).toSet
      assert(types ==
        Set("view", "click", "purchase", "signup", "error"),
        s"$dir event types changed: $types — q330's z* literals are " +
          "quantiles for m = 5")
    }
  }

  test("embeddings dim matches Tables.EmbeddingDim (64-wide oracle " +
    "unrolls depend on it)") {
    Seq(sf0001, "/root/testdata/sf0.01").foreach { dir =>
      val e = Tables.load(spark, dir, "embeddings")
      val dim = graft.ext.SimilaritySearch.deriveDim(e, "embedding")
      assert(dim == Tables.EmbeddingDim,
        s"$dir embeddings are $dim-dim but oracles unroll " +
          s"${Tables.EmbeddingDim} components")
    }
  }
  // ------------------------------------------------------------------ //
  // Tables.load reads with the footer schema instead of inferring it

  test("Tables.load gives every fixture the schema spark.read.parquet " +
    "infers") {
    Seq(sf0001, s"${new java.io.File(sf0001).getParent}/sf0.01").foreach { dir =>
      Tables.all.foreach { t =>
        val inferred = spark.read.parquet(s"$dir/$t.parquet").schema
        assert(Tables.load(spark, dir, t).schema == inferred, s"$dir/$t")
      }
    }
  }

  test("Tables.load of a Spark-written events dir (3 part files, " +
    "_SUCCESS, raw nanos ts) == spark.read.parquet + the unit guard") {
    import spark.implicits._
    val root = scratch("graft_load_parity")
    try {
      val base = 1704067200000000000L // 2024-01-01 in epoch nanos
      (0 until 60).map { i =>
        (i.toLong, base + i * 3600000000123L, (i % 7).toLong,
          Seq("view", "click", "purchase")(i % 3), i * 0.5, s"""{"k": $i}""")
      }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .repartition(3).write.parquet(s"$root/events.parquet")
      val names = new java.io.File(s"$root/events.parquet").list().toSeq
      assert(names.contains("_SUCCESS"))
      assert(names.count(_.endsWith(".parquet")) == 3, names)
      val raw = spark.read.parquet(s"$root/events.parquet")
      assert(raw.schema("ts").dataType == org.apache.spark.sql.types.LongType)
      val want = raw.withColumn("ts",
        expr(Tables.epochLongToTsSql("ts")).cast("timestamp_ntz"))
      val got = Tables.load(spark, root.toString, "events")
      assert(got.schema == want.schema)
      assert(got.orderBy("event_id").collect().toSeq ==
        want.orderBy("event_id").collect().toSeq)
      assert(got.orderBy("event_id").select(col("ts").cast("string"))
        .head().getString(0) == "2024-01-01 00:00:00")
    } finally graft.io.FsUtil.deleteRecursively(root)
  }

  test("Tables.load starts no Spark job") {
    val sc = spark.sparkContext
    try {
      sc.setJobGroup("graft_fixture_load", "Tables.load")
      Tables.all.foreach(t => Tables.load(spark, sf0001, t))
      // the inferring reader does start one, and the listener bus is FIFO:
      // once its job is visible, any job the loads started is too
      sc.setJobGroup("graft_fixture_infer", "spark.read.parquet")
      spark.read.parquet(s"$sf0001/orders.parquet")
      val deadline = System.nanoTime() + 30000000000L
      while (sc.statusTracker.getJobIdsForGroup("graft_fixture_infer")
          .isEmpty && System.nanoTime() < deadline) Thread.sleep(20)
      assert(sc.statusTracker.getJobIdsForGroup("graft_fixture_infer")
        .nonEmpty, "inference job never seen: the count below means nothing")
      assert(sc.statusTracker.getJobIdsForGroup("graft_fixture_load")
        .isEmpty)
    } finally sc.clearJobGroup()
  }

  test("Tables.load of a missing or empty location names the path") {
    val root = scratch("graft_load_missing")
    try {
      val missing = intercept[Exception](
        Tables.load(spark, root.toString, "orders"))
      assert(missing.getMessage.contains(s"$root/orders.parquet"),
        missing.getMessage)
      val empty = Files.createDirectory(root.resolve("lineitem.parquet"))
      Files.createFile(empty.resolve("_SUCCESS"))
      val e = intercept[Exception](Tables.load(spark, root.toString, "lineitem"))
      assert(e.getMessage.contains(s"$root/lineitem.parquet"), e.getMessage)
    } finally graft.io.FsUtil.deleteRecursively(root)
  }
}
