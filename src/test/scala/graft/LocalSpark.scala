package graft

import java.nio.file.Files
import org.apache.spark.sql.SparkSession

/** The session every suite runs on: `GraftSession(4)`, whatever the
  * environment and whichever suite runs first. Its warehouse is a
  * temporary directory, so no test writes tables into the checkout. */
trait LocalSpark {
  lazy val spark: SparkSession = LocalSpark.session()

  /** Runs `body` with the given confs set, then puts back each previous
    * value, or unsets the key if it had none. */
  def withConf[T](kvs: (String, String)*)(body: => T): T = {
    val prev = kvs.map { case (k, _) => k -> spark.conf.getAll.get(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}

object LocalSpark {
  private lazy val warehouse: String = {
    val dir = Files.createTempDirectory("graft-warehouse").toFile
    sys.addShutdownHook(org.apache.commons.io.FileUtils.deleteQuietly(dir))
    dir.toString
  }

  /** `spark.sql.warehouse.dir` is static, so it must reach the session
    * before `getOrCreate` builds it: SparkConf reads `spark.*` system
    * properties. */
  def session(): SparkSession = {
    System.setProperty("spark.sql.warehouse.dir", warehouse)
    GraftSession(4)
  }
}
