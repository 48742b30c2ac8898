package graft.core

import org.apache.spark.sql.SparkSession

/** SparkSession factory (SURVEY §2.11 L2 — reference builds its session at
  * `main.py:43-117`). Spark-first equivalent: one tuned builder, no Python
  * worker knobs. Local mode here, but every knob is chosen so the same plan
  * shapes survive on a real cluster (AQE on, modest shuffle partitions that
  * a cluster would override via `spark.sql.shuffle.partitions`).
  */
object Sessions {
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")

  def local(appName: String = "graft"): SparkSession = {
    val spark = SparkSession
      .builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // let AQE coalesce partitions INSIDE persisted plans too (SPARK-38389;
      // off by default): without it every stage feeding a .persist() runs at
      // the full un-coalesced shuffle-partition count, which at any scale
      // wastes a task wave per cached materialization
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // nested-column pruning matters for the adform-style nested scans
      .config("spark.sql.optimizer.nestedSchemaPruning.enabled", "true")
      // local files without a forked `chmod` per created file and directory
      .config("spark.hadoop.fs.file.impl", classOf[NioLocalFileSystem].getName)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
