package graft

import graft.queries.QueryDef

/** Benchmark main: runs the headline queries on SPARK_GRAFT_SF_DIR, prints
  * ONE JSON line {"metric":…,"queries":{…}} (driver contract). Each query is
  * forced through the full-row noop sink after a warm-up pass over every
  * headline (JIT + code cache), then timed k times with the MIN reported — a single
  * noisy-neighbor burst can inflate one shot 4-17x (observed three times: r4,
  * r5 and r7 driver benches, all refuted by idle-box reruns of identical
  * code), and min-of-k is the standard way to recover the engine's intrinsic
  * cost from a contended box.
  *
  * Repeats are INTERLEAVED round-robin over the whole query list (repeat 1 of
  * every query, then repeat 2 of every query, …) rather than back-to-back per
  * query: contention sustained for ~1 minute poisons all k consecutive
  * repeats of one query (exactly the r7 failure mode) but under interleaving
  * it inflates the same-numbered repeat of MANY queries, leaving each query's
  * other repeats clean for the min to recover. The JSON stamps /proc/loadavg
  * at start/end AND per (query, repeat) — `"loads"` mirrors `"times"` — so a
  * poisoned repeat is identifiable post-hoc from the artifact itself.
  */
object Bench {
  /** 1-minute load average + running/total task counts, e.g. "12.42 1/830".
    * Read directly (no shell-out) so it works inside the forked sbt JVM. */
  private def loadStamp(): String =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try { val f = src.mkString.trim.split("\\s+"); s"${f(0)} ${f(3)}" }
      finally src.close()
    } catch { case _: Throwable => "n/a" }

  /** (total busy jiffies across all cpus, THIS process's jiffies). The
    * difference of deltas is CPU burned by OTHER processes during a
    * window — the contention signal loadavg cannot give: measured on a
    * verified-idle box, the bench's own bursts push 1-min loadavg to
    * 9+ while repeat times stay flat, so any absolute loadavg gate
    * misclassifies self-load (r9; the r8 driver contention, by contrast,
    * was other processes' CPU — exactly what this isolates). */
  private def cpuStamp(): (Long, Long, Long) =
    try {
      val statSrc = scala.io.Source.fromFile("/proc/stat")
      val cpu = try statSrc.getLines().next() finally statSrc.close()
      val f = cpu.trim.split("\\s+").drop(1).map(_.toLong)
      // busy = everything except idle(3), iowait(4) and guest/guest_nice
      // (8/9) — the kernel already folds guest time into user/nice, so
      // including them double-counts VM guests on a host (review r9)
      val busy = f.zipWithIndex.collect {
        case (v, i) if i != 3 && i != 4 && i != 8 && i != 9 => v }.sum
      val selfSrc = scala.io.Source.fromFile("/proc/self/stat")
      val line = try selfSrc.mkString finally selfSrc.close()
      // fields after the parenthesized comm (which can contain spaces):
      // utime is field 14, stime 15 (1-based) = index 11, 12 post-comm
      val rest = line.substring(line.lastIndexOf(')') + 2).split("\\s+")
      // steal (7) separately: it is inside `busy` (so the gate already
      // fires on it), but a nonzero steal stamp tells the reader the
      // "other process" is the HYPERVISOR — overcommitted-host noise no
      // local process list will ever show (r10: measured ~1 steal-core on
      // a 0-process box, with bench walls 2-7× a quiet window's)
      (busy, rest(11).toLong + rest(12).toLong, if (f.length > 7) f(7) else 0L)
    } catch { case _: Throwable => (-1L, -1L, -1L) }

  /** One timed repeat: wall seconds (-1 when `run` threw), the 1-minute
    * loadavg sampled just before it, and the CPU cores burned by OTHER
    * processes and by hypervisor steal while it ran. */
  private[graft] final case class Rep(sec: Double, load1m: Double,
      others: Double, steal: Double) {
    /** Ran, and others burned at most `gate` cores; a -1 stamp (no /proc)
      * counts as clean, so the gate degrades to plain min-of-k off-linux. */
    def clean(gate: Double): Boolean = sec >= 0 && (others < 0 || others <= gate)
  }

  /** Cores other processes may burn during a repeat that still counts as
    * clean (see the CONTENTION GATE below). */
  private[graft] def gate: Double =
    sys.env.getOrElse("SPARK_GRAFT_BENCH_LOAD_GATE", "4.0").toDouble

  /** The per-repeat timer: Bench times every (query, repeat) with it, and
    * [[graft.tools.Probe]]'s A/B times every arm with it. */
  private[graft] def timeOnce(run: => Unit): Rep = {
    val ticksPerSec = 100.0 // USER_HZ on every mainstream linux
    val load1m = try loadStamp().split("\\s+")(0).toDouble
                 catch { case _: Throwable => -1.0 }
    val (busy0, self0, steal0) = cpuStamp()
    val t0 = System.nanoTime()
    val sec = try { run; (System.nanoTime() - t0) / 1e9 }
              catch { case _: Throwable => -1.0 }
    val (busy1, self1, steal1) = cpuStamp()
    // CPU cores burned by processes OTHER than this JVM while the
    // repeat ran — the direct contention measurement
    val othersCores =
      if (busy0 < 0 || busy1 < 0 || sec <= 0) -1.0
      else ((busy1 - busy0) - (self1 - self0)) / ticksPerSec / sec
    val stealCores =
      if (steal0 < 0 || steal1 < 0 || sec <= 0) -1.0
      else (steal1 - steal0) / ticksPerSec / sec
    Rep(sec, load1m, othersCores, stealCores)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.timed()

    val loadStart = loadStamp()
    val repeats = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPEATS", "3").toInt
    val qs = SparkEntry.headlines
    // FORCE through the noop sink, never count() — see graft.tools.Force
    // (count() lets Catalyst eliminate un-referenced plan branches)
    def force(df: org.apache.spark.sql.DataFrame): Unit =
      graft.tools.Force.noop(df)
    // warm-up: run every headline once untimed (JIT + codegen compile +
    // parquet footer cache) so the timed pass measures steady-state execution
    qs.foreach(q => try force(q.run(spark, sfDir)) catch { case _: Throwable => () })

    // Interleaved timing: outer loop over repeat number, inner over queries,
    // so sustained contention can never own all k repeats of one query.
    // Failed queries report -1, never a plausible timing.
    val reps = scala.collection.mutable.LinkedHashMap(
      qs.map(q => q.name -> Vector.empty[Rep]): _*)
    def runOnce(q: QueryDef): Unit =
      reps(q.name) :+= timeOnce(force(q.run(spark, sfDir)))
    for (_ <- 1 to repeats; q <- qs) runOnce(q)

    // CONTENTION GATE (r8 verdict #3, metric revised r9): the r8 stamps
    // made driver-box contention *visible*; this makes the reported min
    // *robust* to it. The clean test is EXTERNAL CPU — cores burned by
    // other processes during the repeat ((Δ/proc/stat busy − Δ/proc/self
    // jiffies)/wall) — because 1-min loadavg cannot separate the bench's
    // own bursts from neighbors (measured: idle-box self-load ramps to
    // 9+ while repeat times stay flat). A repeat is clean when others
    // burned ≤ gate cores (default 4.0 of 32, env-tunable). Queries with
    // no clean repeat get up to 2 extra interleaved rounds; the min is
    // then taken over clean repeats when any exist (falling back to min
    // over all, flagged per-query in "clean"). -1 stamps (no /proc) are
    // treated as clean — the gate degrades to plain min-of-k off-linux.
    val gate = Bench.gate
    def cleanTimes(n: String): Vector[Double] =
      reps(n).filter(_.clean(gate)).map(_.sec)
    var extraRounds = 0
    while (extraRounds < 2 && qs.exists(q => cleanTimes(q.name).isEmpty)) {
      for (q <- qs if cleanTimes(q.name).isEmpty) runOnce(q)
      extraRounds += 1
    }
    val results = qs.map { q =>
      val ts = reps(q.name).map(_.sec).filter(_ >= 0)
      val clean = cleanTimes(q.name)
      // ANY failed repeat poisons the reported value (review r9: min over
      // the successes would let an intermittently-failing query publish a
      // healthy-looking number) — the per-repeat vectors still show which
      // repeats ran
      val v = if (reps(q.name).exists(_.sec < 0)) -1.0
              else if (clean.nonEmpty) clean.min
              else ts.min
      q.name -> v
    }
    val cleanFlags = qs.map(q => q.name -> cleanTimes(q.name).nonEmpty).toMap
    val loadEnd = loadStamp()
    val qJson = results.map { case (k, v) => "\"" + k + f"\":$v%.3f" }
      .mkString("{", ",", "}")
    def vecJson(field: Rep => Double): String =
      reps.map { case (k, rs) =>
        "\"" + k + "\":" + rs.map(r => f"${field(r)}%.3f").mkString("[", ",", "]") }
        .mkString("{", ",", "}")
    val cleanJson = qs.map(q => "\"" + q.name + s"""\":${cleanFlags(q.name)}""")
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val fullArtifact = f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qJson,"sf":"$sfDir","repeats":$repeats,"timing":"min_of_k_interleaved_cpu_gated","gate_other_cores":$gate%.1f,"extra_rounds":$extraRounds,"clean":$cleanJson,"loadavg_start":"$loadStart","loadavg_end":"$loadEnd","times":${vecJson(_.sec)},"loads":${vecJson(_.load1m)},"others_cpu_cores":${vecJson(_.others)},"steal_cpu_cores":${vecJson(_.steal)}}"""
    println(fullArtifact)
    // The driver captures only a bounded TAIL of stdout: by r9 the full
    // artifact line (per-repeat times/loads/others for 18 queries) outgrew
    // that capture and BENCH_r09.json shipped with "parsed": null — the
    // headline total was cut off mid-JSON. So (a) persist the full artifact
    // to a fixed path the round snapshot commits, and (b) RE-print a compact
    // summary — total + per-query reported minimums only — as the very LAST
    // stdout line, guaranteed to fit any tail capture and parse standalone.
    // Per-run default path (r10 verdict "what's wrong #4"): every bench run
    // — including the driver's own — used to overwrite
    // artifacts/BENCH_full_latest.json, so the committed best-clean-run
    // evidence self-destructed on the next invocation. Default to a
    // timestamped file and ALSO refresh the latest pointer; an explicit
    // SPARK_GRAFT_BENCH_ARTIFACT writes only the named file.
    val stamp = new java.text.SimpleDateFormat("yyyyMMdd_HHmmss")
      .format(new java.util.Date())
    val explicit = sys.env.get("SPARK_GRAFT_BENCH_ARTIFACT")
    val artifactPath = explicit.getOrElse(s"artifacts/BENCH_full_$stamp.json")
    def persist(path: String): Unit = try {
      val p = java.nio.file.Paths.get(path)
      if (p.getParent != null) java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.write(p,
        (fullArtifact + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } catch { case e: Throwable =>
      System.err.println(s"bench: could not persist full artifact to $path: $e")
    }
    persist(artifactPath)
    if (explicit.isEmpty) persist("artifacts/BENCH_full_latest.json")
    spark.stop()
    println(f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qJson,"sf":"$sfDir","repeats":$repeats,"extra_rounds":$extraRounds,"full_artifact":"$artifactPath"}""")
  }
}
