package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Hudi-style CDC upsert/delete merge: keep the latest image per record key
  * by an ordering (precombine) field, then apply delete handling
  * (SURVEY.md §2j ST9; ref `hudi/debezium_hudi_demo/deltastreamer_jobs_bulk.sh`
  * `--source-ordering-field __source_ts_ms`,
  * `deltastreamer_artists_apicurio_cow.properties:14-16` record key /
  * precombine config, delete rewrite mode in
  * `debezium_avro_source_connector_postgresql_06.json`).
  *
  * Scale notes: the merge is ONE hash shuffle on the record key (the
  * `row_number` window) — equivalent to Hudi's GLOBAL_BLOOM key lookup
  * re-expressed relationally. Cross-partition key moves are handled for free
  * because the shuffle is global on the key, not scoped to a storage
  * partition. For incremental (streaming `foreachBatch`) use, union the
  * existing table with the incoming batch and re-merge; at 100 TB you would
  * bucket the base table by the key so only the touched buckets rewrite.
  */
object CdcMerge {

  sealed trait DeleteMode
  /** Keep tombstoned rows, flagged `__deleted='true'` (Hudi/Debezium "rewrite"). */
  case object Rewrite extends DeleteMode
  /** Drop tombstoned rows from the merged view (Hudi "drop"/hard delete). */
  case object Drop extends DeleteMode

  /** Merge a changelog down to one surviving row per key.
    *
    * @param keyCols      record key (`hoodie.datasource.write.recordkey.field`)
    * @param orderingCols precombine ordering, latest wins; ties broken by the
    *                     later element(s) of the list
    * @param deletedCol   name of the `__deleted` string flag column
    */
  def mergeByKey(
      keyCols: Seq[String],
      orderingCols: Seq[String],
      deletedCol: String = "__deleted",
      deleteMode: DeleteMode = Drop)(changelog: DataFrame): DataFrame = {
    val w = Window
      .partitionBy(keyCols.map(col): _*)
      .orderBy(orderingCols.map(col(_).desc): _*)
    val latest = changelog
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
    deleteMode match {
      case Rewrite => latest
      case Drop    => latest.filter(col(deletedCol) =!= "true")
    }
  }
}
