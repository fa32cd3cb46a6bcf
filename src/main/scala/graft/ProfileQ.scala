package graft

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Dev profiler for the optimization rounds (guide §1: measure first).
  * The UI is disabled in GraftSession, so this attaches a SparkListener
  * and prints a per-stage table (wall, summed task time, shuffle bytes,
  * task count, name) for ONE query run after a JIT warm-up pass — the
  * empirical half of the optimize loop.
  *
  * Usage: `sbt "runMain graft.ProfileQ <query> [sfDir] [reps]"`.
  */
object ProfileQ {
  private case class StageRow(id: Int, attempt: Int, name: String, tasks: Int,
                              wallMs: Long, taskMs: Long, cpuMs: Long,
                              deserMs: Long, gcMs: Long, resSerMs: Long,
                              shufReadB: Long, shufWriteB: Long, inputB: Long)

  def main(args: Array[String]): Unit = {
    val qName = args.headOption.getOrElse(sys.error("usage: ProfileQ <query> [sfDir] [reps]"))
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 1
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.configureLocal(
      SparkSession.builder().master(s"local[$cpus]"), cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // `layer:<name>` profiles a shared-layer fill (same spelling Bench times)
    val fn = if (qName.startsWith("layer:"))
      SparkEntry.layerWarmups.find(_._1 == qName.stripPrefix("layer:"))
        .map(_._2).getOrElse(sys.error(s"unknown layer $qName"))
    else SparkEntry.queries.getOrElse(qName, sys.error(s"unknown query $qName"))
    // JIT/codegen warm-up at the smallest sf, same as Bench
    try fn(spark, "/root/testdata/sf0.001").count() catch { case _: Throwable => () }

    val stages = new java.util.concurrent.ConcurrentHashMap[(Int, Int), StageRow]()
    val listener = new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val m = si.taskMetrics
        val wall = (for (a <- si.completionTime; b <- si.submissionTime) yield a - b).getOrElse(-1L)
        stages.put((si.stageId, si.attemptNumber()),
          StageRow(si.stageId, si.attemptNumber(), si.name, si.numTasks, wall,
            m.executorRunTime, m.executorCpuTime / 1000000,
            m.executorDeserializeTime, m.jvmGCTime, m.resultSerializationTime,
            m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
            m.inputMetrics.bytesRead))
      }
    }
    spark.sparkContext.addSparkListener(listener)
    for (r <- 1 to reps) {
      stages.clear()
      val t0 = System.nanoTime()
      fn(spark, sfDir).count()
      val secs = (System.nanoTime() - t0) / 1e9
      Thread.sleep(300) // let the listener bus drain (private API in 4.x)
      import scala.jdk.CollectionConverters._
      val rows = stages.values.asScala.toSeq.sortBy(-_.wallMs)
      println(f"== $qName rep $r: ${secs}%.3f s, ${rows.size} stages, " +
        f"sum(stage wall)=${rows.map(_.wallMs).sum}%d ms, sum(task time)=${rows.map(_.taskMs).sum}%d ms, " +
        f"sum(task cpu)=${rows.map(_.cpuMs).sum}%d ms, sum(deser)=${rows.map(_.deserMs).sum}%d ms, " +
        f"sum(gc)=${rows.map(_.gcMs).sum}%d ms")
      println(f"${"stage"}%-9s${"wall ms"}%9s${"task ms"}%9s${"cpu ms"}%9s${"deser"}%7s${"gc"}%5s${"tasks"}%7s${"shufR"}%10s${"shufW"}%10s${"input"}%10s  name")
      rows.take(40).foreach { s =>
        println(f"${s.id}%-4d.${s.attempt}%-4d${s.wallMs}%9d${s.taskMs}%9d${s.cpuMs}%9d${s.deserMs}%7d${s.gcMs}%5d${s.tasks}%7d" +
          f"${s.shufReadB}%10d${s.shufWriteB}%10d${s.inputB}%10d  ${s.name.take(90)}")
      }
    }
    spark.stop()
  }
}
