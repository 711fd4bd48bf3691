package graft

import org.apache.spark.sql.SparkSession

/** Local smoke check mirroring the driver's t1 gate: `entry` returns rows>0
  * on sf0.001 and every registered query yields a non-negative row count.
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val n = SparkEntry.entry(spark).count()
    println(s"ENTRY rows=$n ${if (n > 0) "OK" else "EMPTY!"}")
    SparkEntry.entry(spark).show(5, truncate = false)
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    var failed = n <= 0
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val c = fn(spark, sfDir).count()
        println(f"$name%-28s rows=$c")
      } catch { case e: Throwable =>
        println(f"$name%-28s FAILED: ${e.getMessage}")
        failed = true
      }
      // r16: drop this query's pinned blocks before the next one
      Tables.releaseCheckpoints(spark)
    }
    spark.stop()
    // mirror the driver's gate in the EXIT CODE, not just the log line — a
    // caller scripting around Smoke must see an empty entry or a throwing
    // query as a failure
    if (failed) sys.exit(1)
  }
}
