package graft.perfbench

import org.apache.spark.sql.SparkSession

/** The session exactly as `graft.Bench` builds it (local[cores], the two
  * adaptive-execution flags, UTC, `nanosAsLong`), plus the per-run
  * directories: warehouse (the `saveAsTable` layouts) and Spark's local
  * shuffle space live under the run's own directory. `GRAFT_SCRATCH` is
  * read by graft from the environment, so `run.py` sets it per run. */
object Session {
  def cores: Int = Runtime.getRuntime.availableProcessors()

  def build(runDir: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
      .config("spark.local.dir", s"$runDir/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
