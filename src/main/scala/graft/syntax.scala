package graft

import org.apache.spark.sql.DataFrame

/** Engine-internal syntax. `df.graftCut` materializes + truncates
 * lineage between supersteps (see org.apache.spark.sql.GraftLineage). */
object syntax {
  implicit final class GraftDataFrameOps(private val df: DataFrame) extends AnyVal {
    def graftCut: DataFrame = org.apache.spark.sql.GraftLineage.cut(df)
    /** Cut + the materialized row count (saves one job per superstep
     * in frontier loops that need the active count anyway). */
    def graftCutCount: (DataFrame, Long) = org.apache.spark.sql.GraftLineage.cutCounted(df)
    /** Cut + the sum of a double column, in the same single job. */
    def graftCutSum(sumCol: String): (DataFrame, Double) =
      org.apache.spark.sql.GraftLineage.cutSummed(df, sumCol)
    /** Cut + the number of active rows of a state that flags them, in
     * the same single job. */
    def graftCutActive(activeCol: String): (DataFrame, Long) =
      org.apache.spark.sql.GraftLineage.cutActive(df, activeCol)
    /** Unpersist a superseded graftCut state (no-op otherwise). */
    def graftFree(): Unit = org.apache.spark.sql.GraftLineage.free(df)
  }
}
