package graft

/** Plan auditor: prints `explain("formatted")` for the named queries
  * (or all) — the per-operator 100 TB review loop from SURVEY.md §6:
  * check PushedFilters / ReadSchema / broadcast / WholeStageCodegen.
  *
  * The session comes from [[GraftSession.builder]], so the printed plans
  * carry the graft extensions (as-of join strategy, month-filter
  * derivation) exactly as a library user's session plans them.
  *
  * Usage: runMain graft.Explain <sfDir> [queryName ...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.drop(1).toSeq else SparkEntry.queries.keys.toSeq.sorted
    val spark = GraftSession.builder("graft-explain")
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    GraftConf.tune(spark)
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"\n========== $n ==========")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
