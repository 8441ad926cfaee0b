package graft.tools

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}

import graft.SparkEntry

/** Ad-hoc per-stage attribution for performance work (not part of the
  * driver contract). The sandbox runs with the Spark UI disabled, so
  * the guide's "open the Stages tab" loop has no UI to open — this
  * listener is the headless equivalent: for each named query it runs
  * one warm-up rep, then a profiled rep that records every completed
  * stage's wall time, task count, and I/O metrics, and prints the
  * stages sorted by duration. Stage names carry the operator callsite,
  * which is enough to map a hot stage back to a plan node.
  *
  * Usage: sbt "runMain graft.tools.StageProfile <query> [query ...]"
  * (env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS as in Bench).
  */
object StageProfile {
  private case class St(id: Int, name: String, ms: Long, tasks: Int,
      inputMb: Double, shReadMb: Double, shWriteMb: Double, jobDesc: String)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.GraftSession.builder(s"local[$cpus]", cpus)
      .config("spark.sql.autoBroadcastJoinThreshold", (64 * 1024 * 1024).toString)
      .config("spark.sql.adaptive.autoBroadcastJoinThreshold", (64 * 1024 * 1024).toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val stages = new ConcurrentLinkedQueue[St]()
    @volatile var recording = false
    // stage -> job description mapping comes from job starts
    val jobDescOfStage = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val desc = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
        js.stageIds.foreach(id => jobDescOfStage.put(id, desc))
      }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
        if (recording) {
          val si = sc.stageInfo
          val ms = (for (s <- si.submissionTime; c <- si.completionTime) yield c - s)
            .getOrElse(-1L)
          val tm = si.taskMetrics
          stages.add(St(si.stageId, si.name, ms, si.numTasks,
            tm.inputMetrics.bytesRead / 1e6,
            tm.shuffleReadMetrics.totalBytesRead / 1e6,
            tm.shuffleWriteMetrics.bytesWritten / 1e6,
            Option(jobDescOfStage.get(si.stageId)).getOrElse("")))
        }
    })

    for (name <- args) {
      val q = SparkEntry.queries(name)
      // warm rep: store/memo builds and file listings land here, so the
      // profiled rep measures the steady-state query
      val t0 = System.nanoTime()
      q(spark, sfDir).count()
      val warm = (System.nanoTime() - t0) / 1e9
      graft.operators.Kernels.retireCaches()
      System.gc()
      stages.clear()
      recording = true
      val t1 = System.nanoTime()
      q(spark, sfDir).count()
      val dt = (System.nanoTime() - t1) / 1e9
      recording = false
      graft.operators.Kernels.retireCaches()
      System.gc()
      import scala.jdk.CollectionConverters._
      val all = stages.asScala.toSeq.sortBy(-_.ms)
      val totalMs = all.map(_.ms.max(0L)).sum
      println(f"[stageprof] $name warm=$warm%.2fs profiled=$dt%.2fs " +
        f"stages=${all.size} stage-ms-sum=${totalMs / 1000.0}%.2fs")
      all.take(25).foreach { s =>
        val shortName = s.name.linesIterator.next().take(90)
        println(f"[stageprof]   ${s.ms}%6dms t=${s.tasks}%3d in=${s.inputMb}%8.1fMB " +
          f"sr=${s.shReadMb}%7.1fMB sw=${s.shWriteMb}%7.1fMB  $shortName%s  [${s.jobDesc.take(60)}]")
      }
    }
    spark.stop()
  }
}
