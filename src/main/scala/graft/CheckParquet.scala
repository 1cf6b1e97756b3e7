package graft

import java.io.File

/** A3/K5 parity: the reference's read-back verification utility
  * (check_parquet.py) re-expressed — find a `*_local_test.parquet` in a
  * directory (check_parquet.py:56-81) or take an explicit path/partition
  * glob (:83-91), then printSchema / count / show (:94-98). Optional
  * SSE-KMS read conf via -Dgraft.kms.key (check_parquet.py:37-51).
  */
object CheckParquet {
  def main(args: Array[String]): Unit = {
    val target = args.headOption.getOrElse(".")
    val spark = Session.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    sys.props.get("graft.kms.key")
      .foreach(graft.sources.S3Config.applySseKms(spark, _))

    val loc = {
      val f = new File(target)
      if (f.isDirectory)
        f.listFiles().map(_.getPath)
          .find(_.endsWith("_local_test.parquet")) // suffix: check_parquet.py:65
          .getOrElse(target)
      else target
    }
    println(s"Check parquet location: $loc")
    val df = spark.read.parquet(loc)
    df.printSchema()
    println(s"count: ${df.count()}")
    df.show(20, truncate = false)
    spark.stop()
  }
}
