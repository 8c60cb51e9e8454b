package graft.engine

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's scale-oriented defaults.
  *
  * Local runs use local[N] (one JVM), but every knob here is chosen for the
  * 1000-executor case too: AQE on (runtime re-plan, skew-join splitting,
  * partition coalescing), UTC session time, shuffle partitions sized to the
  * parallelism at hand rather than the 200 default.
  *
  * Artifact isolation is off. With it on, every session, and so every
  * streaming query (each runs in a cloned session), gets its own executor
  * class loader, and Spark keys its compiled-class cache by class loader
  * and source: each query's tasks compiled every generated class again,
  * and a steady benchmark drain of two AvailableNow queries compiled 10.
  * Off, all tasks share the executor's default class loader and a query
  * reuses the classes earlier ones compiled. What it gives up is
  * per-session jars and classes (`addArtifact`, Spark Connect's
  * per-session REPL classes); graft adds none. It is a fixed engine
  * default, not an option: a static conf, read once per session.
  */
object Sessions {
  def local(cores: Int = 4, appName: String = "graft"): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.artifact.isolation.enabled", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
