package graft

/** The shared test session IS the benched session ([[Session.build]]) at
  * `local[4]`, and `SPARK_GRAFT_CPUS` parsing fails fast on bad values. */
class SessionSpec extends SparkSpec {

  test("the shared test session carries every setting of the benched session") {
    val sc = spark.sparkContext.getConf
    assert(spark.sparkContext.master == "local[4]")
    val sql = Map(
      "spark.sql.shuffle.partitions" -> "4",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.codegen.cache.maxEntries" -> "5000",
      "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "128k")
    sql.foreach { case (k, v) => assert(spark.conf.get(k) == v, k) }
    assert(sc.get("spark.ui.enabled") == "false")
    assert(sc.get("spark.cleaner.periodicGC.interval") == "1min")
  }

  test("parseCpus takes a positive integer and defaults to every processor") {
    assert(Session.parseCpus(Some("8")) == 8)
    assert(Session.parseCpus(Some(" 2 ")) == 2)
    assert(Session.parseCpus(None) == Runtime.getRuntime.availableProcessors)
  }

  test("parseCpus rejects non-integer, zero and negative values by name") {
    Seq("abc", "0", "-2").foreach { raw =>
      val e = intercept[IllegalArgumentException](Session.parseCpus(Some(raw)))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS"), raw)
      assert(e.getMessage.contains(raw), raw)
    }
  }
}
