package graft

/** Plan-inspection utility: prints the formatted physical plan of selected
  * catalog queries (or all) — used to audit pushdown (PushedFilters /
  * ReadSchema), broadcast vs shuffle joins, and WholeStageCodegen spans. */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val names = args.drop(1).toSet
    val spark = Session.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    SparkEntry.catalog
      .filter(q => names.isEmpty || names.contains(q.name))
      .foreach { q =>
        println(s"\n========== ${q.name} ==========")
        try q.run(spark, sfDir).explain("formatted")
        catch { case e: Throwable => println(s"explain failed: ${e.getMessage}") }
      }
    spark.stop()
  }
}
