package graft

import org.apache.spark.sql.SparkSession

/** The one place graft's mains build their Spark session: `local[cpus]`
  * with as many shuffle partitions as cores, a UTC session time zone,
  * no UI, and ERROR logging. */
object GraftSession {

  /** `SPARK_GRAFT_CPUS`, or `default` when it is unset. */
  def cpus(default: Int): Int =
    sys.env.get("SPARK_GRAFT_CPUS").fold(default)(_.toInt)

  def apply(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      // AQE coalescing targets BYTES (parallelismFirst still floors at
      // minPartitionSize=1m), but several pipelines do CPU-heavy work
      // AFTER a shuffle whose payload is small — e.g. the shingle
      // explode downstream of curation_pipeline's dedup window — and a
      // few-MB shuffle coalesced to 1-3 partitions serializes that work
      // on a 32-core host. 64k keeps small-shuffle stages parallel; at
      // production scale partitions dwarf both floors and the setting
      // is inert (it only LOWERS the merge floor, never splits).
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}
