package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val nanos = "spark.sql.legacy.parquet.nanosAsLong" -> "true"
    // SPARK_GRAFT_EXTENSIONS=1 runs the whole gate with GraftExtensions
    // active (optimizer rule + strategy + functions) — a soundness sweep
    // proving the injected rewrites preserve every verified result.
    val spark =
      if (sys.env.contains("SPARK_GRAFT_EXTENSIONS")) Sessions.withExtensions(cpus, nanos)
      else Sessions.local(cpus, nanos)
    new java.io.File(outDir).mkdirs()
    // deterministic name order; SPARK_GRAFT_REVERSE=1 runs the sweep
    // backwards — gates must not be order-coupled (all confs are scoped,
    // graft.Confs), and the reversed sweep is the proof
    // SPARK_GRAFT_ONLY=q58_...,q61_... restricts the sweep (and the
    // dumped oracle set, keeping check_oracle.py consistent) for fast
    // local iteration on a few gates; the driver leaves it unset.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    def selected(name: String): Boolean = only.forall(_(name))
    val ordered = {
      val qs = SparkEntry.queries.toSeq.sortBy(_._1).filter(q => selected(q._1))
      // strict: "1"/"true" reverse, unset/""/"0"/"false" don't — any other
      // spelling aborts rather than silently running the forward sweep
      // while the caller records it as the reversed-order proof
      sys.env.getOrElse("SPARK_GRAFT_REVERSE", "0").toLowerCase match {
        case "1" | "true" => qs.reverse
        case "" | "0" | "false" => qs
        case other => sys.error(s"unrecognized SPARK_GRAFT_REVERSE=$other")
      }
    }
    ordered.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(kv => selected(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
