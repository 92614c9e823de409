package graft

import java.nio.file.Files

import org.apache.commons.io.FileUtils
import org.apache.logging.log4j.Level
import org.apache.logging.log4j.core.config.Configurator
import org.apache.spark.sql.SparkSession

/** The one place the engine's mains and specs build a SparkSession.
  * Each gets a `local[cpus]` session with `cpus` shuffle partitions,
  * UTC session time, the UI off and WARN logging; `confs` adds or
  * overrides keys (a warehouse dir, AQE off for the exchange fence,
  * legacy nanos parquet reads).
  *
  * The default warehouse is a fresh directory per JVM, removed at exit:
  * catalog tables and StandingIndex pointers never outlive the run that
  * wrote them, so a gate's plan (q89 probes `seg0`, not a generation an
  * earlier run left behind) does not depend on which runs came before
  * in the same checkout. An explicit `spark.sql.warehouse.dir` in
  * `confs` wins (AsyncCompactor joins the warehouse it is handed).
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

  private val WarehouseKey = "spark.sql.warehouse.dir"

  private lazy val defaultWarehouse: String = {
    val dir = Files.createTempDirectory("graft-warehouse")
    sys.addShutdownHook(FileUtils.deleteQuietly(dir.toFile))
    dir.toString
  }

  private def create(
      cpus: Int, confs: Seq[(String, String)], extensions: Boolean): SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    if (!confs.exists(_._1 == WarehouseKey)) builder.config(WarehouseKey, defaultWarehouse)
    confs.foreach { case (k, v) => builder.config(k, v) }
    if (extensions) builder.withExtensions(new GraftExtensions())
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Spark 4.1 warns "spark.sql.adaptive.enabled is not supported in
    // streaming DataFrames/Datasets and will be disabled" at every stream
    // start on an AQE session, yet turns AQE off only for stateful,
    // continuous and real-time queries (MicroBatchExecution,
    // StreamExecution): a stateless micro-batch stream keeps it. Starting
    // the streams with AQE off would silence it by changing those plans,
    // so the misleading warning's logger is raised to ERROR instead.
    Configurator.setLevel(
      "org.apache.spark.sql.execution.streaming.runtime.ResolveWriteToStream", Level.ERROR)
    spark
  }
}
