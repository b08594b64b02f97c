package graft.perfbench

import java.io.File
import org.apache.spark.sql.SparkSession
import graft.GraftExtensions

/** The benchmark's Spark session: `graft.Bench`'s configuration (without
  * its opt-in saturated and timeout modes) plus `GraftExtensions` and
  * smaller status-store limits, on
  * `local[N]` with N = available cores capped at 4. Spark's scratch space
  * stays inside the benchmark's work directory. */
object Session {

  val cores: Int = math.min(Runtime.getRuntime.availableProcessors(), 4)

  def start(work: File): SparkSession = {
    // as graft.Bench: drop the oracle-determinism sorts from timed plans
    sys.props("graft.sort") = "false"
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      .config("spark.ui.enabled", "false")
      // Spark's status store keeps up to 1,000 finished jobs, stages and
      // SQL executions by default, so the heap would grow with the number
      // of requests a run serves and a faster program would read as
      // holding more memory. Keeping 50 of each makes the status store's
      // share of the heap the same in every run.
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.sql.ui.retainedExecutions", "50")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
