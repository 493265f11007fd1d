package graft

/** Dev tool: print the formatted physical plan of named SparkEntry
  * queries against SPARK_GRAFT_SF_DIR (default sf0.001), on the
  * `GraftSession.fromEnv` session the other mains use.
  *
  *   sbt "runMain graft.PlanDump q106_scd2_history"
  *
  * The plan printed is the ADAPTIVE-final plan only when the query is
  * executed; explain shows the initial plan, which is what the PlanSpec
  * pins assert against too — consistent for node-count audits.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    if (args.isEmpty) {
      println("usage: sbt \"runMain graft.PlanDump <query> [query...]\"")
      println("available queries:")
      SparkEntry.queries.keys.toSeq.sorted.foreach(n => println(s"  $n"))
      return
    }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = GraftSession.fromEnv("graft-plandump")
    args.toSeq.foreach { n =>
      SparkEntry.queries.get(n) match {
        case Some(q) =>
          println(s"===== $n =====")
          q(spark, sfDir).explain("formatted")
        case None => println(s"no such query: $n")
      }
    }
    spark.stop()
  }
}
