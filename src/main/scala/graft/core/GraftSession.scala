package graft.core

import org.apache.spark.sql.SparkSession

/** The one Spark session configuration graft runs under: every main
  * (Bench, Verify, the probes, the MLlib exporter) and the test suite get
  * their session here, so a result or a timing never depends on which
  * entry point built the session.
  *
  *  - `local[cores]` with `cores` shuffle partitions;
  *  - session time zone UTC: temporal filters and labels read the lake's
  *    naive timestamps exactly as the DuckDB oracle does;
  *  - `parquet.nanosAsLong`: events.parquet stores TIMESTAMP(NANOS), which
  *    Spark cannot read without it (see [[Tables.events]]);
  *  - no UI, WARN logging.
  *
  * AQE's coalescing floor stays at Spark's default (1m): a 64k floor
  * measured slower on the dedup family (73.8 s vs 60.6 s at 32 cores).
  */
object GraftSession {

  /** Task threads: `SPARK_GRAFT_CPUS` when set, else the host's cores. */
  def defaultCores: Int = sys.env.get("SPARK_GRAFT_CPUS") match {
    case None => Runtime.getRuntime.availableProcessors
    case Some(v) => v.trim.toIntOption.filter(_ > 0).getOrElse(
      throw new IllegalArgumentException(
        s"SPARK_GRAFT_CPUS must be a positive integer, got '$v'"))
  }

  def local(cores: Int = defaultCores): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
