package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.{BeforeAndAfterAll, Suite}

/** One [[Sessions.local]] session per suite, built in `beforeAll` and
  * stopped in `afterAll`. A session left running would be handed to the
  * next suite by `getOrCreate()`, which then silently ignores that
  * suite's static confs (its warehouse dir, for one).
  */
trait LocalSpark extends BeforeAndAfterAll { this: Suite =>

  protected def cpus: Int = 4

  /** Confs on top of [[Sessions.local]]'s. */
  protected def confs: Seq[(String, String)] = Nil

  /** `AvroCodecSpec` → `avro-codec-spec`. */
  protected def appName: String =
    getClass.getSimpleName.replaceAll("([a-z])([A-Z])", "$1-$2").toLowerCase

  protected var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = Sessions.local(cpus, confs :+ ("spark.app.name" -> appName): _*)
    super.beforeAll()
  }

  override def afterAll(): Unit =
    try super.afterAll()
    finally if (spark != null) spark.stop()

  /** Runs `f` on a second session with [[GraftExtensions]] injected
    * (`local[2]`, 2 shuffle partitions), then restores the suite's
    * session as active and default. `getOrCreate()` would return the
    * suite's session unless both are cleared first. The extension
    * session shares the suite's SparkContext, so it is not stopped:
    * stopping it would stop the suite's context.
    */
  protected def withExtensionsSession[T](app: String)(f: SparkSession => T): T = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try f(Sessions.withExtensions(2, "spark.app.name" -> app))
    finally {
      SparkSession.setDefaultSession(spark)
      SparkSession.setActiveSession(spark)
    }
  }
}
