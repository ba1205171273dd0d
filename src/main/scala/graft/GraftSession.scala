package graft

import org.apache.spark.sql.SparkSession

/** The one Spark session of graft's mains (Bench, Verify, Probe) and of
  * the test fixture. It installs no extensions, so the mains see exactly
  * the functions that a plain driver session sees. */
object GraftSession {

  /** `SPARK_GRAFT_CPUS`, or else the host's core count (Spark's `local[*]`). */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  def apply(cpus: Int = GraftSession.cpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      // AQE coalescing targets bytes, which collapses tiny-byte CPU-heavy
      // post-shuffle stages (codec wrap/parse, media decode: ~2 MB of
      // shard bytes carrying ~100 core-seconds of work) to 1-2 tasks: its
      // target max(bytes/defaultParallelism, minPartitionSize) is floored
      // at 1 MB by default. At 16k the bytes/parallelism term binds; at
      // production shuffle sizes it binds anyway and nothing changes.
      // Measured: tar_parse_xz 3.1 → 0.6 s, video_frame_sample
      // 2.3 → 0.25 s at sf0.1/local[32].
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "16k")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
