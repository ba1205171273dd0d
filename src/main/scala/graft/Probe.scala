package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Query probe on the [[GraftSession]]:
  * `Probe time|phase|jobs|plan <sfDir> <query...>`.
  *  - `time`: wall time of `count()` over three passes and their minimum
  *    (the first pass is cold and pays for shared-scan builds);
  *  - `phase`: construction, analysis+planning and execution per pass;
  *  - `jobs`: one cold run that prints every Spark job of 50 ms or more
  *    with its stage count and call site, so first-touch cost
  *    attributes to the jobs that build and probe;
  *  - `plan`: the formatted physical plan, for pushdown, broadcast and
  *    exchange audits.
  * One `q1_agg` scan first warms the JVM, so codegen and class loading
  * are not billed to the first query. Tooling, not part of the driver
  * contract. */
object Probe {
  private val Modes = Set("time", "phase", "jobs", "plan")
  private val Passes = 3

  def main(args: Array[String]): Unit = {
    require(args.length >= 3 && Modes(args(0)),
      s"usage: Probe ${Modes.mkString("|")} <sfDir> <query...>")
    val (mode, dir, names) = (args(0), args(1), args.drop(2).toSeq)
    val spark = GraftSession()
    SparkEntry.queries("q1_agg")(spark, dir).count()
    def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9
    def run(n: String): Double = {
      val t0 = System.nanoTime()
      SparkEntry.queries(n)(spark, dir).count()
      secs(t0)
    }
    mode match {
      case "time" => for (n <- names) {
        val runs = Seq.fill(Passes)(run(n))
        println(f"[time] $n%-28s min=${runs.min}%.2f s  runs=" +
          runs.map(t => f"$t%.2f").mkString(","))
      }
      case "phase" => for (n <- names; pass <- 1 to Passes) {
        var t0 = System.nanoTime()
        val df = SparkEntry.queries(n)(spark, dir)
        val cons = secs(t0)
        t0 = System.nanoTime()
        df.queryExecution.executedPlan
        val plan = secs(t0)
        t0 = System.nanoTime()
        df.count()
        println(f"[phase] $n pass$pass cons=$cons%.2f plan=$plan%.2f " +
          f"exec=${secs(t0)}%.2f")
      }
      case "jobs" =>
        spark.sparkContext.addSparkListener(new JobPrinter)
        for (n <- names) println(f"[total] $n ${run(n)}%.2f s")
      case "plan" => for (n <- names) {
        println(s"===== $n =====")
        SparkEntry.queries(n)(spark, dir).explain("formatted")
      }
    }
    spark.stop()
  }

  /** Prints each finished job of 50 ms or more. */
  private class JobPrinter extends SparkListener {
    private val starts =
      new java.util.concurrent.ConcurrentHashMap[Int, (Long, String, Int)]()
    // the result stage (the job's newest) is named after the job's call
    // site, e.g. "count at Probe.scala:31"
    override def onJobStart(j: SparkListenerJobStart): Unit =
      starts.put(j.jobId, (System.nanoTime(),
        j.stageInfos.maxByOption(_.stageId).fold("")(_.name),
        j.stageIds.size)): Unit
    override def onJobEnd(j: SparkListenerJobEnd): Unit =
      Option(starts.remove(j.jobId)).foreach { case (t0, desc, stages) =>
        val secs = (System.nanoTime() - t0) / 1e9
        if (secs >= 0.05)
          println(f"[job] ${j.jobId}%4d $secs%7.2f s stages=$stages%3d " +
            desc.take(100))
      }
  }
}
