package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session base for all specs: one local session per suite,
  * configured identically to Verify/Bench (UTC, nanos-as-long, AQE).
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName(getClass.getSimpleName)
    .config("spark.sql.extensions", "graft.GraftExtensions")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val sfSmoke = "/root/testdata/sf0.001"

  def init(): Unit = spark.sparkContext.setLogLevel("WARN")

  /** Checkpoint and spooled-input dirs under the replay harness's scratch
    * root: a replay must delete its own before it returns or throws.
    */
  def replayDirs(): Set[String] = {
    import scala.jdk.CollectionConverters._
    scala.util.Using.resource(
      java.nio.file.Files.list(graft.streaming.SemiStreamRuntime.scratchRoot)) {
      _.iterator().asScala.map(_.getFileName.toString)
        .filter(n => n.startsWith("ckpt-") || n.startsWith("stream-")).toSet
    }
  }
}
