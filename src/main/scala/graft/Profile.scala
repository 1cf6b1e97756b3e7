package graft

import org.apache.spark.scheduler._
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

/** Runtime profiling harness for the optimization rounds (guide §1:
  * measure first). For each named catalog entry it runs the query once
  * untimed (warm), then `reps` timed runs, and reports per-entry medians
  * of: wall seconds, the seconds of those spent building the frame before
  * its action (`buildS`: construction-time analysis and eager work, read
  * apart from the action), Spark job count, stage count, task count, summed
  * executor run time, GC time, shuffle bytes read/written, and bytes
  * spilled. Job/stage counts expose scheduling floors (a 2 s entry made
  * of 40 tiny jobs is a checkpoint/collect problem, not a compute
  * problem); shuffle bytes expose exchange weight; the task:wall ratio
  * exposes parallelism. Not part of the driver contract — a dev tool. */
object Profile {

  private class Acc extends SparkListener {
    val jobs = new AtomicInteger
    val stages = new AtomicInteger
    val tasks = new AtomicInteger
    val runMs = new AtomicLong
    val gcMs = new AtomicLong
    val shufR = new AtomicLong
    val shufW = new AtomicLong
    val spill = new AtomicLong
    override def onJobStart(j: SparkListenerJobStart): Unit =
      jobs.incrementAndGet()
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
      stages.incrementAndGet()
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      val m = t.taskMetrics
      if (m != null) {
        runMs.addAndGet(m.executorRunTime)
        gcMs.addAndGet(m.jvmGCTime)
        shufR.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        shufW.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        spill.addAndGet(m.memoryBytesSpilled)
      }
    }
    def snap: Seq[Long] = Seq(jobs.get, stages.get, tasks.get,
      runMs.get, gcMs.get, shufR.get, shufW.get, spill.get)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val names = args.drop(1).toSet
    val reps = Session.envInt("SPARK_GRAFT_PROFILE_REPS", 3)
    val spark = Session.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.graft.bench.singleWave", "true")
    val acc = new Acc
    spark.sparkContext.addSparkListener(acc)
    def med(xs: Seq[Double]): Double = {
      val s = xs.sorted; if (s.size % 2 == 1) s(s.size / 2)
      else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    println(f"${"entry"}%-36s ${"sec"}%7s ${"buildS"}%7s ${"jobs"}%5s ${"stg"}%5s " +
      f"${"tasks"}%6s ${"runS"}%7s ${"gcS"}%6s ${"shR_MB"}%7s ${"shW_MB"}%7s ${"spill"}%6s")
    SparkEntry.catalog.filter(q => names.isEmpty || names.contains(q.name))
      .foreach { q =>
        try {
          Bench.timeEntry(spark, sfDir, q) // warm
          val runs = (1 to reps).map { _ =>
            // listener events are async: drain the bus before each snap
            // or in-flight task-end events bleed across reps (ADVICE r16)
            org.apache.spark.GraftListenerBridge.drain(spark.sparkContext)
            val before = acc.snap
            val (buildSec, sec, err) = Bench.timeBuildAndEntry(spark, sfDir, q)
            err.foreach(m => println(s"!! ${q.name}: $m"))
            org.apache.spark.GraftListenerBridge.drain(spark.sparkContext)
            val after = acc.snap
            (sec, buildSec, after.zip(before).map { case (a, b) => a - b })
          }
          val sec = med(runs.map(_._1))
          val buildSec = med(runs.map(_._2))
          // per-metric median across reps
          val ms = (0 until 8).map(i => med(runs.map(_._3(i).toDouble)))
          println(f"${q.name}%-36s $sec%7.2f $buildSec%7.2f ${ms(0)}%5.0f ${ms(1)}%5.0f " +
            f"${ms(2)}%6.0f ${ms(3) / 1000}%7.1f ${ms(4) / 1000}%6.2f " +
            f"${ms(5) / 1e6}%7.1f ${ms(6) / 1e6}%7.1f ${ms(7) / 1e6}%6.1f")
        } catch { case e: Throwable =>
          println(s"!! ${q.name} failed: ${e.getMessage}")
        }
      }
    spark.stop()
  }
}
