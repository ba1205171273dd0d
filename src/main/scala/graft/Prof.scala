package graft

import org.apache.spark.sql.SparkSession

/** Scratch profiler: time named queries twice in one JVM (first = cold
  * incl. shared-scan builds, second = steady-state). */
object Prof {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val names = args.drop(1)
    // reads the cpus/coalescing-floor env names of Bench/QBench/Verify,
    // but not their defaults: cpus is 32 here and in Bench, 8 in QBench
    // and 4 in Verify. Set SPARK_GRAFT_CPUS to compare with their numbers
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize",
        sys.env.getOrElse("SPARK_GRAFT_MIN_COALESCE", "16k"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    SparkEntry.queries.get("q1_agg").foreach(f => f(spark, dir).count())
    for (n <- names; pass <- 1 to 2) {
      val t0 = System.nanoTime()
      SparkEntry.queries(n)(spark, dir).count()
      println(f"[prof] $n pass$pass ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    spark.stop()
  }
}

/** Scratch phase-splitter: construction vs analysis/optimization vs
  * execution for one query (where does a fixed per-run cost live?). */
object PhaseProbe {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val names = args.drop(1)
    // cpus/floor read the same env names as Bench/QBench (defaults as in
    // Prof above; PP_* still override for single-knob experiments)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("PP_SHUFFLE", cpus))
      .config("spark.sql.adaptive.enabled",
        sys.env.getOrElse("PP_AQE", "true"))
      .config("spark.sql.adaptive.coalescePartitions.enabled",
        sys.env.getOrElse("PP_COALESCE", "true"))
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize",
        sys.env.getOrElse("PP_MIN_PARTITION_SIZE",
          sys.env.getOrElse("SPARK_GRAFT_MIN_COALESCE", "16k")))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    SparkEntry.queries.get("q1_agg").foreach(f => f(spark, dir).count())
    for (n <- names; pass <- 1 to 3) {
      var t0 = System.nanoTime()
      val df = SparkEntry.queries(n)(spark, dir)
      val tCons = (System.nanoTime() - t0) / 1e9
      t0 = System.nanoTime()
      df.queryExecution.executedPlan // force analysis + optimization + planning
      val tPlan = (System.nanoTime() - t0) / 1e9
      t0 = System.nanoTime()
      df.count()
      val tExec = (System.nanoTime() - t0) / 1e9
      println(f"[phase] $n pass$pass cons=$tCons%.2f plan=$tPlan%.2f exec=$tExec%.2f")
    }
    spark.stop()
  }
}

/** Scratch job profiler: runs named queries cold with a listener that
  * prints every Spark job's wall time + description + stage count, so
  * first-touch cost attributes to specific jobs (which build, which
  * probe). Tooling only — not part of the driver contract. */
object JobProbe {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val names = args.drop(1)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize",
        sys.env.getOrElse("SPARK_GRAFT_MIN_COALESCE", "16k"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String, Int)]()
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          val desc = Option(j.properties)
            .map(_.getProperty("spark.job.description"))
            .filter(_ != null).getOrElse("")
          starts.put(j.jobId, (System.nanoTime(), desc, j.stageIds.size)): Unit
        }
        override def onJobEnd(
            j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
          val st = starts.remove(j.jobId)
          if (st != null) {
            val secs = (System.nanoTime() - st._1) / 1e9
            if (secs >= 0.05)
              println(f"[job] ${j.jobId}%4d ${secs}%7.2f s stages=${st._3}%3d ${st._2.take(100)}")
          }
        }
      })
    SparkEntry.queries.get("q1_agg").foreach(f => f(spark, dir).count())
    for (n <- names) {
      println(s"===== $n =====")
      val t0 = System.nanoTime()
      SparkEntry.queries(n)(spark, dir).count()
      println(f"[total] $n ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    spark.stop()
  }
}
