package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query-name filter (local iteration;
    // the driver passes two args and gets the full dump)
    val (sfDir, outDir, only) = args match {
      case Array(s, o)    => (s, o, Option.empty[Set[String]])
      case Array(s, o, f) => (s, o, Some(f.split(",").toSet))
    }
    // the session the benchmark times, so the gate checks the plans Bench
    // measures: broadcast vs sort-merge joins under the 64 MB threshold,
    // the raw local file system, the FileSystem checkpoint manager
    val spark = GraftSession.timed()
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.filter { case (n, _) => only.forall(_.contains(n)) }
      .foreach { case (name, fn) =>
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
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)

    // ESTIMATE GATE for rollup_hll_approx: the HLL estimate can't hash-match
    // a DuckDB oracle, but it CAN be bounded against its exact twin
    // (rollup_day_distinct shares the spec with an exactCardinality
    // aggregator). approx_count_distinct is HLL++ at the default maximum
    // estimation error rsd=0.05; the gate admits |est−exact| ≤
    // max(5, 4·rsd·exact) — ~4σ plus an absolute slack for tiny groups
    // (HLL++ is exact in its sparse regime anyway), far outside normal
    // deviation yet tight enough to catch any wiring/merge bug. Result →
    // <outDir>/rollup_hll_approx.tolerance.json for the gate artifact.
    if (only.forall(_.contains("rollup_hll_approx"))) {
      try {
        val joined = SparkEntry.queries("rollup_hll_approx")(spark, sfDir)
          .select("bucket", "event_type", "approx_users")
          .join(SparkEntry.queries("rollup_day_distinct")(spark, sfDir)
            .select("bucket", "event_type", "uniq_users"),
            Seq("bucket", "event_type"), "full_outer")
          .selectExpr("cast(coalesce(approx_users, -1) as long) AS est",
            "cast(coalesce(uniq_users, -1) as long) AS ex")
          .collect()
        val errs = joined.map { r =>
          val e = r.getLong(0); val x = r.getLong(1)
          // a group present on only one side is itself a violation (-1 twin)
          if (e < 0 || x < 0) Double.PositiveInfinity
          else math.abs(e - x) / math.max(x.toDouble, 1.0)
        }
        val violations = joined.indices.count { i =>
          val x = math.max(joined(i).getLong(1).toDouble, 1.0)
          errs(i) * x > math.max(5.0, 4 * 0.05 * x)
        }
        val maxRel = if (errs.isEmpty) 0.0 else errs.max
        // a one-sided group yields Infinity — render legal JSON (null) so
        // the artifact stays parseable exactly when the gate caught a bug
        val maxRelJson =
          if (maxRel.isInfinite) "null" else f"$maxRel%.6f"
        Files.writeString(Paths.get(s"$outDir/rollup_hll_approx.tolerance.json"),
          s"""{"groups":${joined.length},"violations":$violations,"rsd":0.05,"bound":"abs(est-exact) <= max(5, 4*rsd*exact)","max_rel_err":$maxRelJson,"pass":${violations == 0}}""")
        if (violations > 0)
          System.err.println(s"[verify] rollup_hll_approx TOLERANCE GATE " +
            s"FAILED: $violations of ${joined.length} groups out of bound")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] hll tolerance gate failed: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
