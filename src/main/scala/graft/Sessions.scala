package graft

import org.apache.spark.sql.SparkSession

/** The one place the engine's mains and specs build a SparkSession.
  * Each gets a `local[cpus]` session with `cpus` shuffle partitions,
  * UTC session time, the UI off and WARN logging; `confs` adds or
  * overrides keys (a warehouse dir, AQE off for the exchange fence,
  * legacy nanos parquet reads).
  *
  * `getOrCreate` semantics apply: while another session's SparkContext
  * is running, the new session shares that context, so only its
  * SQL-session confs (and any extensions) take effect.
  */
object Sessions {

  def local(cpus: Int, confs: (String, String)*): SparkSession =
    create(cpus, confs, extensions = false)

  /** [[local]] with [[GraftExtensions]] injected (optimizer rules, the
    * top-k strategy, the SQL functions). The programmatic path, not the
    * `spark.sql.extensions` conf: that conf is read from the
    * SparkContext, so it is ignored when a context already runs.
    */
  def withExtensions(cpus: Int, confs: (String, String)*): SparkSession =
    create(cpus, confs, extensions = true)

  private def create(
      cpus: Int, confs: Seq[(String, String)], extensions: Boolean): SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    confs.foreach { case (k, v) => builder.config(k, v) }
    if (extensions) builder.withExtensions(new GraftExtensions())
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
