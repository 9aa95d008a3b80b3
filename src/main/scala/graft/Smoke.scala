package graft

import org.apache.spark.sql.SparkSession

/** Local smoke runner: flagship entry + row count (mirrors the driver's
  * t1 smoke). `sbt -batch "runMain graft.Smoke"`. */
object Smoke {

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[8]")
      .appName("graft-smoke")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", "-1")
      .config("spark.sql.adaptive.autoBroadcastJoinThreshold", "33554432")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val t0 = System.nanoTime()
    // `runMain graft.Smoke <queryName> [sfDir]` smokes ONE registered
    // query; no args = the flagship entry (the driver's t1 smoke)
    val df = if (args.nonEmpty)
      SparkEntry.queries(args(0))(spark,
        if (args.length > 1) args(1) else "/root/testdata/sf0.001")
    else SparkEntry.entry(spark)
    val n = df.count()
    println(f"[smoke] ${if (args.nonEmpty) args(0) else "entry"} rows = $n in ${(System.nanoTime() - t0) / 1e9}%.1f s")
    df.show(10, truncate = false)
    spark.stop()
  }
}
