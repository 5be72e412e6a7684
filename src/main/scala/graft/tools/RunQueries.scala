package graft.tools

import org.apache.spark.sql.SparkSession

/** Ad-hoc per-query timing: run named `SparkEntry.queries` entries N
  * times each in ONE session (same warmup as [[graft.Bench]]) and print
  * every individual wall time. For separating first-invocation overhead
  * (codegen/JIT, layout builds) from steady-state cost — e.g. the r7
  * q48/q56 variance questions.
  *
  * Usage: runMain graft.tools.RunQueries <sfDir> <repeats> <query>...
  */
object RunQueries {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3,
      "usage: RunQueries <sfDir> <repeats> <query>...")
    val sfDir = args(0)
    val repeats = args(1).toInt
    val names = args.drop(2).toSeq
    val cpus = graft.GraftSession.mainCpus
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.GraftSession.install(spark)
    graft.Tables.registerAll(spark, sfDir)
    graft.Tables.names.foreach(n => graft.Tables.load(spark, sfDir, n).count())
    def loadavg: String =
      try scala.io.Source.fromFile("/proc/loadavg").mkString.trim
        .split("\\s+").take(3).mkString(",")
      catch { case _: Exception => "" }
    println(s"RUNQ loadavg_start=$loadavg")
    for (name <- names; i <- 1 to repeats) {
      val fn = graft.SparkEntry.queries(name)
      val t0 = System.nanoTime()
      val rows = fn(spark, sfDir).count()
      val sec = (System.nanoTime() - t0) / 1e9
      // Locale.ROOT: f"%.3f" under e.g. de_DE prints comma decimals,
      // breaking anything parsing these lines (same fix as Bench)
      println(s"RUNQ $name run=$i rows=$rows sec=" +
        String.format(java.util.Locale.ROOT, "%.3f", Double.box(sec)))
    }
    println(s"RUNQ loadavg_end=$loadavg")
    spark.stop()
  }
}
