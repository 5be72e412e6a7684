package graft

/** Debug tool: print the executed plan of a registered query.
  * Usage: runMain graft.Explain <sfDir> <queryName> */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.001"
    // args of the form set:key=value become session confs. Each query
    // fn calls prep() -> resetGraftConfs(), which unsets the graft
    // scale knobs — exactly the conf-gated variants this tool exists
    // to dump — so the overrides are installed in SparkEntry's
    // post-reset hook (re-applied after every reset), not set once
    // here, where the reset would wipe them. The rest of the args are
    // query names.
    val (confArgs, nameArgs) = args.drop(1).toSeq.partition(_.startsWith("set:"))
    val confs = confArgs.map { a =>
      val kv = a.stripPrefix("set:").split("=", 2)
      (kv(0), kv(1))
    }
    val names = if (nameArgs.nonEmpty) nameArgs
                else SparkEntry.queries.keys.toSeq.sorted
    val spark = GraftSession.builder("local[4]").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    SparkEntry.confOverrides = confs
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    names.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      println(s"==== $name ====")
      df.explain("formatted")
    }
    spark.stop()
  }
}
