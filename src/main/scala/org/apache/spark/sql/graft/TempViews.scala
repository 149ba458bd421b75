package org.apache.spark.sql.graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.classic.ClassicConversions.castToImpl

/** Temp-view registration in the `org.apache.spark.sql` namespace, where
  * the session catalog (`sessionState`, `private[sql]`) is reachable.
  */
object TempViews {

  /** `df.createOrReplaceTempView(name)`, unless the view already holds
    * `df`'s own plan. Registering runs an eager command each call; a view
    * created from a DataFrame keeps that DataFrame's analyzed plan, so a
    * memoized DataFrame is recognized by identity, and any other plan
    * under `name` is replaced.
    */
  def bind(name: String, df: DataFrame): Unit = {
    val ds = castToImpl(df)
    val held = ds.sparkSession.sessionState.catalog.getRawTempView(name).flatMap(_.plan)
    if (!held.exists(_ eq ds.logicalPlan)) df.createOrReplaceTempView(name)
  }
}
