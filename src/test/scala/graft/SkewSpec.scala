package graft

import graft.operators.Skew

class SkewSpec extends SparkTestBase {
  import spark.implicits._

  test("saltedJoin equals the plain equi-join on a skewed fact") {
    // 1000 rows of hot key 1, a few of others
    val fact = ((1 to 1000).map(i => (1L, s"v$i")) ++ Seq((2L, "x"), (3L, "y")))
      .toDF("k", "payload")
    val dim = Seq((1L, "one"), (2L, "two"), (4L, "four")).toDF("dk", "name")

    val plain = fact.join(dim, fact("k") === dim("dk"))
      .select("k", "payload", "name").as[(Long, String, String)].collect().sorted.toSeq
    val salted = Skew.saltedJoin(fact, dim, "k", "dk", salts = 8)
      .select("k", "payload", "name").as[(Long, String, String)].collect().sorted.toSeq
    assert(salted == plain)
    assert(plain.size == 1001) // hot key matched + k=2; k=3/dk=4 unmatched
  }

  test("salt is content-derived: stable across partitionings and spread over buckets") {
    import org.apache.spark.sql.functions._
    val fact = (1 to 500).map(i => (1L, s"v$i")).toDF("k", "payload")
    def salts(parts: Int): Map[String, Int] = fact.repartition(parts)
      .withColumn("__salt", pmod(xxhash64(col("k"), col("payload")), lit(8)).cast("int"))
      .select("payload", "__salt").as[(String, Int)].collect().toMap
    // the same rows get the same salt no matter how the input is
    // partitioned — the property a stage retry / AQE re-plan relies on
    // (a monotonically_increasing_id-based salt fails this)
    assert(salts(3) == salts(11))
    // and the hot key still spreads across all buckets
    assert(salts(3).values.toSet.size == 8)
  }

  test("objectStoreConf carries the s3a pool knobs; committer classes are opt-in") {
    val c = GraftSession.objectStoreConf
    assert(c("spark.hadoop.fs.s3a.committer.name") == "magic")
    assert(c("spark.hadoop.fs.s3a.connection.maximum").toInt >=
      c("spark.hadoop.fs.s3a.threads.max").toInt)
    assert(c("spark.hadoop.fs.s3a.multipart.size").toLong >= 64L * 1024 * 1024)
    // no credentials baked into the profile
    assert(!c.keys.exists(k => k.contains("access.key") || k.contains("secret")))
    // commit-protocol classes live in spark-hadoop-cloud, absent from many
    // classpaths (including this one): they must NOT be in the default
    // profile — an absent class there breaks every write in the session
    assert(!c.contains("spark.sql.sources.commitProtocolClass"))
    assert(GraftSession.objectStoreCommitterConf(
      "spark.sql.sources.commitProtocolClass").contains("PathOutputCommitProtocol"))
    // the builder applies cleanly on top of the cluster profile
    GraftSession.objectStoreBuilder(shufflePartitions = 2048)
  }

  test("a builder session carries every shared session setting") {
    // the suite's session comes from GraftSession.builder; builder options
    // land in the SparkConf, which no runtime conf change touches
    val conf = spark.sparkContext.getConf
    GraftSession.sharedConf.foreach { case (k, v) =>
      assert(conf.get(k) == v, k)
    }
  }

  test("saltedJoin tolerates map-typed fact columns (excluded from the salt)") {
    import org.apache.spark.sql.functions._
    val fact = ((1 to 50).map(i => (1L, s"v$i")) :+ ((2L, "x")))
      .toDF("k", "payload")
      .withColumn("attrs", map(lit("a"), $"payload")) // MapType: not hashable
    val dim = Seq((1L, "one"), (2L, "two")).toDF("dk", "name")
    val out = Skew.saltedJoin(fact, dim, "k", "dk", salts = 4)
      .select("k", "payload", "name").as[(Long, String, String)].collect().sorted.toSeq
    val plain = fact.join(dim, fact("k") === dim("dk"))
      .select("k", "payload", "name").as[(Long, String, String)].collect().sorted.toSeq
    assert(out == plain && out.size == 51)
  }

  test("keyProfile ranks hot keys with exact shares") {
    // key 1: 6 rows, key 2: 3 rows, key 3: 1 row
    val df = (Seq.fill(6)(1L) ++ Seq.fill(3)(2L) ++ Seq(3L)).toDF("k")
    val out = Skew.keyProfile(df, "k", topN = 2)
      .select($"key", $"n", $"share", $"rank")
      .as[(Long, Long, Double, Int)].collect().toList
    assert(out == List((1L, 6L, 0.6, 1), (2L, 3L, 0.3, 2)))
  }

  test("winsorize clamps into the in-group percentile window, keeps rows") {
    import org.apache.spark.sql.functions._
    val df = ((1 to 99).map(i => ("a", i.toLong)) :+ (("a", 10000L)))
      .toDF("g", "v")
    val w = graft.operators.Outliers.winsorize(df, "g", "v", 0.05, 0.95)
    assert(w.count() == 100, "winsorize must not drop rows")
    val clamped = w.select(max($"v_w"), min($"v_w")).head()
    // p95 of 1..99,10000 at index .95*99 = 94.05 -> 95 + .05*(96-95) = 95.05
    // p05 at index 4.95 -> 5 + .95*(6-5) = 5.95
    assert(clamped.getDouble(0) == 95.05 && clamped.getDouble(1) == 5.95)
    // interior values untouched
    assert(w.filter($"v" === 50L).head().getAs[Double]("v_w") == 50.0)
  }
}
