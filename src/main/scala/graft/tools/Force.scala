package graft.tools

import org.apache.spark.sql.DataFrame

/** Full-row forcing for every TIMED run (Bench / [[Probe]]) — one
  * definition (review finding r8). `.count()` is NOT
  * a benchmark force: Catalyst eliminates every branch no counted column
  * depends on (a left join onto a join-key-aggregated right side drops
  * wholesale; plain aggregations lose their value expressions). The noop
  * sink consumes every column of every row, so the timed plan is the plan
  * a real consumer pays for.
  */
object Force {
  def noop(df: DataFrame): Unit =
    df.write.mode("overwrite").format("noop").save()
}
