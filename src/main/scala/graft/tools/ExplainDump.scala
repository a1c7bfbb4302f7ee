package graft.tools

/** Dumps formatted physical plans for the headline queries — the
  * plan-quality feedback loop (pushdown, broadcast, codegen spans).
  * Usage: runMain graft.tools.ExplainDump [sfDir]
  */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    // the bench's session, so the dumped plans (join strategies, fan-out
    // widths) are the ones the bench runs (plans/r11); extra session confs
    // via GRAFT_EXPLAIN_CONF=k=v[,k=v] select A/B arms (e.g. the r10-width
    // "before" arm spark.graft.fanout.rowsPerPartition=1)
    val spark = graft.GraftSession.timed()
    sys.env.get("GRAFT_EXPLAIN_CONF").foreach(_.split(",").foreach { kv =>
      val Array(k, v) = kv.split("=", 2)
      spark.conf.set(k, v)
    })
    // 2nd arg: comma-separated query names (default: the bench headliners)
    val picked = args.drop(1).headOption match {
      case Some(names) =>
        val want = names.split(",").toSet
        graft.SparkEntry.registry.filter(q => want(q.name))
      case None => graft.SparkEntry.headlines
    }
    picked.foreach { q =>
      println(s"\n========== ${q.name} ==========")
      println(q.run(spark, sfDir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
    }
    spark.stop()
  }
}
