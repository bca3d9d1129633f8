package graft

import org.apache.spark.sql.SparkSession

/** The one Spark session conf: `Bench`, `Verify`, `Demo`, `PlanDump` and
  * the test suite all build their session here, so a timing, a dumped
  * result and a plan are taken under the same shuffle sizing. */
object GraftSession {
  /** Worker threads of the mains' session: `SPARK_GRAFT_CPUS`, else 4. */
  lazy val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(4)(_.toInt)

  /** A `local[cpus]` session with the graft extensions. Shuffles start
    * at `cpus * 8` partitions and AQE coalesces them down to its 64 MB
    * advisory size: small shuffles land where a fixed count would put
    * them, while a data-proportional stage (q173's wedge join at sf3)
    * gets smaller per-task hash state instead of OOMing the heap.
    * Parquet timestamps are plain int64 micros, so the DuckDB oracle
    * reads back exactly the values computed. */
  def local(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum", (cpus * 8).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
