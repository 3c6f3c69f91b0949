package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Multi-way record routing — the reference's Either-based OK/KO partition
 * (mediation/MediationService.scala:233-251, SURVEY §2.4 F2).
 */
object Routing {

  /** One-pass routed form: adds a `route` tag column (single scan,
    * downstream writers partition by tag); a NULL predicate routes to KO.
    */
  def tagRoute(df: DataFrame, isOk: Column, okTag: String = "OK",
      koTag: String = "KO", routeCol: String = "route"): DataFrame =
    df.withColumn(routeCol, when(isOk, lit(okTag)).otherwise(lit(koTag)))
}
