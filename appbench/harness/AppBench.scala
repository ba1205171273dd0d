package appbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import java.nio.file.{Files, StandardCopyOption}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import graft.streaming.{DetectorApp, StreamingGeoCoincidence}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress,
  Trigger}

/** JVM side of the detector application benchmark.
  *
  * Drives the standing application `DetectorApp.run` in a closed loop over
  * the files a generated manifest lists: each file is moved atomically into
  * the source directory and the next one waits until `processAllAvailable`
  * returns, which includes the no-data batch that advances the watermark.
  * Then it collects the batch twin (`DetectorApp.queries`). With `--trace 1`
  * it instead replays the first `TraceRounds` rounds through nested
  * prefixes of the public chain (source, + parseStage, + gateStage,
  * + clusterStream, the full run), with row counts from `Dataset.observe`
  * and an unobserved copy of the fourth prefix for the tracing overhead,
  * and counts the batch twin's jobs with a SparkListener.
  *
  * Usage: AppBench --work DIR --seconds S --cores N --trace 0|1
  * Prints one JSON object on stdout, which run.py checks and reports.
  */
object AppBench {

  /** Delivery order: the warm-up file, the untimed ramp rounds, the timed
    * rounds, the sentinel. */
  final case class Plan(warmup: String, ramp: Seq[String], rounds: Seq[String],
                        sentinel: String)

  /** One closed-loop pass: step latencies of the timed files (ns), the
    * progress of the batches inside the timed window and of all batches. */
  final case class Loop(setupDoneMs: Long, steps: ArrayBuffer[Long],
                        rounds: Int, wallNs: Long, gcMs: Long,
                        window: Seq[StreamingQueryProgress],
                        all: Seq[StreamingQueryProgress])

  private val Queries =
    Seq("detector_dag", "detector_dag_mqtt", "detector_dag_ascii")

  /** Rounds a traced run replays after the warm-up file. */
  private val TraceRounds = 3

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val work = new File(opts("work")).getAbsolutePath
    val seconds = opts("seconds").toDouble
    val cores = opts("cores").toInt
    val traced = opts("trace") == "1"
    val plan = readPlan(new File(work, "manifest.txt"))

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("appbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/tmp")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "1000000")
      .getOrCreate()
    val out = new StringBuilder("{")
    def put(k: String, v: Any): Unit = {
      if (out.length > 1) out ++= ","
      out ++= "\"" + k + "\":" + (v match {
        case s: String => "\"" + s + "\""
        case xs: Seq[_] => xs.mkString("[", ",", "]")
        case x => x.toString
      })
    }
    put("cores", cores)
    put("shuffle_partitions", spark.conf.get("spark.sql.shuffle.partitions"))
    def app(in: String, ck: String, o: String): StreamingQuery =
      DetectorApp.run(spark, in, o, ck, Trigger.ProcessingTime(0))

    if (!traced) {
      // ---- the standing application, timed ----
      val timed = drive(spark, work, "timed", plan, plan.ramp, plan.rounds,
        seconds, app)
      put("setup_done_ms", timed.setupDoneMs)
      put("rounds", timed.rounds)
      put("wall_ns", timed.wallNs)
      put("steps_ns", timed.steps.toSeq)
      put("gc_ms", timed.gcMs)
      putProgress(put, "", timed)
    } else {
      // ---- the same files through nested prefixes of the public chain ----
      def source(in: String): DataFrame =
        spark.readStream.schema("topic STRING, payload STRING").json(in)
      def obs[T](ds: Dataset[T], name: String): Dataset[T] =
        ds.observe(name, count(lit(1)).as("rows"))
      def noop(ds: Dataset[_], ck: String): StreamingQuery =
        ds.writeStream.format("noop").outputMode("append")
          .option("checkpointLocation", ck)
          .trigger(Trigger.ProcessingTime(0)).start()
      def chain(in: String, observed: Boolean, depth: Int): Dataset[_] = {
        def o[T](ds: Dataset[T], name: String) = if (observed) obs(ds, name) else ds
        val src = o(source(in), "source")
        if (depth == 1) src
        else {
          val parsed = o(DetectorApp.parseStage(src), "parse")
          if (depth == 2) parsed
          else {
            val gated = o(DetectorApp.gateStage(parsed), "gate")
            if (depth == 3) gated
            else o(StreamingGeoCoincidence.clusterStream(gated), "cluster")
          }
        }
      }
      val prefixes = Seq(
        ("p1_source", 1, true), ("p2_parse", 2, true), ("p3_gate", 3, true),
        ("p4_cluster", 4, true), ("p4_plain", 4, false))
      val replay = (plan.ramp ++ plan.rounds).take(TraceRounds)
      for ((name, depth, observed) <- prefixes) {
        val l = drive(spark, work, name, plan, Nil, replay, 0,
          (in, ck, _) => noop(chain(in, observed, depth), ck))
        put(s"${name}_ns", l.wallNs)
        putProgress(put, name + ".", l)
      }
      val full = drive(spark, work, "p5_run", plan, Nil, replay, 0, app)
      put("p5_run_ns", full.wallNs)
      put("rounds", full.rounds)
      put("gc_ms", full.gcMs)
      putProgress(put, "", full)
    }

    // ---- the batch twin over the same events.parquet ----
    val listener = new DagListener
    if (traced) spark.sparkContext.addSparkListener(listener)
    val t0 = System.nanoTime()
    val rows = Queries.map(q => q -> DetectorApp.queries(q)(spark, work).collect())
    put("dag_ns", System.nanoTime() - t0)
    for ((q, rs) <- rows) {
      val w = new PrintWriter(new File(work, s"$q.tsv"), "UTF-8")
      try rs.foreach(r => w.println(r.toSeq.mkString("\t"))) finally w.close()
    }
    if (traced) {
      listener.settle()
      put("dag.jobs", listener.jobs.get)
      put("dag.tasks", listener.tasks.get)
      put("dag.executor_run_ms", listener.runMs.get)
      put("dag.shuffle_bytes", listener.shuffleBytes.get)
    }
    out ++= "}"
    spark.stop()
    println(out)
    System.out.flush()
    sys.exit(0)
  }

  private def readPlan(f: File): Plan = {
    val rows = scala.io.Source.fromFile(f).getLines().filter(_.nonEmpty)
      .map(_.split(" ")).toSeq
    def file(kind: String) = rows.filter(_(0) == kind).map(_(2))
    Plan(file("warmup").head, file("ramp"), file("round"), file("sentinel").head)
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum

  /** Closed loop: the warm-up file, the untimed `ramp` rounds, then the
    * `timed` rounds until `seconds` have passed (all of them when
    * `seconds` is 0), then the sentinel that seals every open session.
    * Each query gets its own source, checkpoint and sink directories under
    * `work/q/<name>`. */
  private def drive(spark: SparkSession, work: String, name: String,
                    plan: Plan, ramp: Seq[String], timed: Seq[String],
                    seconds: Double,
                    start: (String, String, String) => StreamingQuery): Loop = {
    val base = new File(work, s"q/$name")
    val stage = new File(base, "stage")
    val in = new File(base, "in")
    Seq(stage, in).foreach(_.mkdirs())
    val used = (ramp ++ timed).toIndexedSeq
    for (f <- (plan.warmup +: used) :+ plan.sentinel)
      Files.copy(new File(work, s"staging/$f").toPath, new File(stage, f).toPath)
    def deliver(f: String): Unit =
      Files.move(new File(stage, f).toPath, new File(in, f).toPath,
        StandardCopyOption.ATOMIC_MOVE)

    val q = start(in.getPath, new File(base, "ckpt").getPath,
      new File(base, "out").getPath)
    deliver(plan.warmup)
    q.processAllAvailable()
    val setupDone = System.currentTimeMillis()
    for (f <- ramp) { deliver(f); q.processAllAvailable() }
    val steps = ArrayBuffer.empty[Long]
    val gc0 = gcMs()
    val wall0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    var r = ramp.size
    while (r < used.size && (seconds <= 0 || System.nanoTime() - t0 < seconds * 1e9)) {
      val s = System.nanoTime()
      deliver(used(r))
      q.processAllAvailable()
      steps += System.nanoTime() - s
      r += 1
    }
    val wall = System.nanoTime() - t0
    val gc = gcMs() - gc0
    val wall1 = System.currentTimeMillis()
    deliver(plan.sentinel)
    q.processAllAvailable()
    q.stop()
    val all = q.recentProgress.toSeq
    val inWindow = all.filter { p =>
      val t = java.time.Instant.parse(p.timestamp).toEpochMilli
      t >= wall0 && t <= wall1
    }
    Loop(setupDone, steps, r, wall, gc, inWindow, all)
  }

  /** Only executed batches count (idle progress reports repeat a batch id
    * and carry no addBatch phase). */
  private def executed(ps: Seq[StreamingQueryProgress]): Seq[StreamingQueryProgress] =
    ps.filter(_.durationMs.containsKey("addBatch"))
      .groupBy(_.batchId).values.map(_.head).toSeq.sortBy(_.batchId)

  /** Micro-batch, state-operator and observed-row figures of one query,
    * from the batches of the timed window; late rows are counted over
    * every batch. Stateful operators are listed in plan order from the
    * sink down: the clusterer, then the gate. */
  private def putProgress(put: (String, Any) => Unit, prefix: String,
                          loop: Loop): Unit = {
    val ran = executed(loop.window)
    def dur(keys: String*): Long =
      ran.map(p => keys.map(k => Option(p.durationMs.get(k)).map(_.longValue)
        .getOrElse(0L)).sum).sum
    put(prefix + "microbatch.batches", ran.count(_.numInputRows > 0))
    put(prefix + "microbatch.nodata_batches", ran.count(_.numInputRows == 0))
    put(prefix + "microbatch.planning_ms", dur("queryPlanning"))
    put(prefix + "microbatch.offsets_ms", dur("latestOffset", "getBatch"))
    put(prefix + "microbatch.log_ms", dur("walCommit", "commitOffsets"))
    put(prefix + "microbatch.exec_ms", dur("addBatch"))
    val nOps = ran.map(_.stateOperators.length).maxOption.getOrElse(0)
    val names = nOps match {
      case 2 => Seq("cluster", "gate")
      case 1 => Seq("gate")
      case _ => Nil
    }
    for ((op, i) <- names.zipWithIndex) {
      def ops(ps: Seq[StreamingQueryProgress]) =
        ps.filter(_.stateOperators.length == nOps).map(_.stateOperators(i))
      val xs = ops(ran)
      put(s"$prefix$op.update_ms", xs.map(_.allUpdatesTimeMs).sum)
      put(s"$prefix$op.commit_ms", xs.map(_.commitTimeMs).sum)
      put(s"$prefix$op.state_rows", xs.lastOption.map(_.numRowsTotal).getOrElse(0L))
      put(s"$prefix$op.state_bytes", xs.lastOption.map(_.memoryUsedBytes).getOrElse(0L))
      put(s"$prefix$op.state_rows_peak", xs.map(_.numRowsTotal).maxOption.getOrElse(0L))
      put(s"$prefix$op.state_bytes_peak", xs.map(_.memoryUsedBytes).maxOption.getOrElse(0L))
      put(s"$prefix$op.late_rows",
        ops(executed(loop.all)).map(_.numRowsDroppedByWatermark).sum)
    }
    val observed = ran.flatMap(p => p.observedMetrics.asScala.toSeq)
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2.getLong(0)).sum }
    for ((k, v) <- observed.toSeq.sortBy(_._1)) put(s"${prefix}rows.$k", v)
  }

  /** Job, task, executor-time and shuffle-write totals of the batch twin. */
  private final class DagListener extends SparkListener {
    val jobs, jobsDone, tasks, runMs, shuffleBytes = new AtomicLong
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    override def onJobEnd(e: SparkListenerJobEnd): Unit = jobsDone.incrementAndGet()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      Option(e.taskMetrics).foreach { m =>
        runMs.addAndGet(m.executorRunTime)
        shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      }
    }
    /** Events reach listeners asynchronously; a job's tasks are posted
      * before its end, so equal start and end counts mean all arrived. */
    def settle(): Unit = {
      val deadline = System.nanoTime() + 10000000000L
      while ((jobs.get == 0 || jobs.get != jobsDone.get) &&
        System.nanoTime() < deadline) Thread.sleep(20)
    }
  }
}
