package graft
/** Per-round benchmark: times every registered query at
  * SPARK_GRAFT_SF_DIR with a noop-format write (materializes every
  * column — `.count()` would let Catalyst prune the aggregates) after
  * one untimed warmup pass (JVM/codegen).
  *
  * Each query is timed k=3 times (round-robin, so a transient
  * contention spike on a shared host lands on different queries each
  * round) and the reported number is the per-query MIN — contention
  * only ever adds time, so the min is the closest observable to the
  * machine's true cost. All raw samples ship in the JSON so a noisy
  * round is diagnosable from the artifact alone.
  *
  * A query that THROWS is excluded from the timings and reported in
  * an `"errors"` map instead of killing the run — one broken query
  * must not zero out the whole round's perf record (round 5 lost its
  * entire bench artifact to a single analysis error; the correctness
  * gate, not the bench, is what must go red for breakage). */
object Bench {
  private val rounds = 3

  /** 1-minute load average from /proc/loadavg — the load-isolation
    * marker (VERDICT r10): every sample records the host load it ran
    * under, so a cross-round regression can be separated from host
    * contention FROM THE ARTIFACT (r10's unexplained 1.7–2.1× text-
    * family drift was exactly this ambiguity — samples spread up to
    * 55% with no code change). A sample taken at load ≫ idle is
    * suspect; the min-of-k convention already discards it unless ALL
    * samples were contended, which the recorded loads now reveal. */
  private def loadAvg(): Double =
    try java.nio.file.Files.readString(
      java.nio.file.Paths.get("/proc/loadavg")).split("\\s+")(0).toDouble
    catch { case _: Throwable => -1.0 }

  /** Where a run's artifact goes (VERDICT r11 item 4 — a filtered dev
    * smoke overwrote the round's full-suite record and had to be
    * recovered by hand): filtered runs, any run covering FEWER
    * queries than the incumbent record, and any run at a DIFFERENT
    * scale factor than the incumbent (r12: a full-suite sf0.01 verify
    * smoke clobbered the sf0.1 record through the width-only guard —
    * same defect, different axis), and any run with ERRORED queries
    * (its total sums only the successes — an artificially fast
    * "record", third axis of the same defect) write `bench_dev.json`;
    * only a clean full-suite run at least as wide as the incumbent
    * AND at its scale factor may replace `bench_latest.json`.
    * Retargeting the record to a new SF is an explicit act: remove
    * the incumbent. Pure so the spec can pin it. */
  private[graft] def artifactTarget(
      filtered: Boolean, nQueries: Int, incumbentN: Option[Int],
      sfDir: String = "", incumbentSf: Option[String] = None,
      hadErrors: Boolean = false): String =
    if (filtered || hadErrors || incumbentN.exists(_ > nQueries) ||
        incumbentSf.exists(canonPath(_) != canonPath(sfDir))) "bench_dev.json"
    else "bench_latest.json"

  /** Canonical form of an SF-dir path for the record guard: the raw
    * string compare routed a legitimate full-suite run spelled with a
    * trailing slash / relative segment / symlink to bench_dev.json —
    * the record would then never refresh (ADVICE r12). Symlinks
    * resolve only when the path exists (the spec's synthetic paths
    * don't); normalization never throws. */
  private[graft] def canonPath(p: String): String =
    try {
      val norm = java.nio.file.Paths.get(p).toAbsolutePath.normalize
      try norm.toRealPath().toString
      catch { case _: java.io.IOException => norm.toString }
    } catch {
      // a malformed incumbent string (hand-edited artifact) must not
      // crash the guard — fall back to the raw compare it replaced
      case _: Exception => p
    }

  /** Query count of an existing artifact: the explicit `n_queries`
    * stamp, else (legacy artifacts) the key count of its `queries`
    * object. None if unreadable — then nothing blocks the write. */
  private[graft] def incumbentQueryCount(path: java.nio.file.Path): Option[Int] =
    try {
      if (!java.nio.file.Files.isRegularFile(path)) None
      else {
        val txt = java.nio.file.Files.readString(path)
        "\"n_queries\":(\\d+)".r.findFirstMatchIn(txt).map(_.group(1).toInt)
          .orElse("\"queries\":\\{(.*?)\\}".r.findFirstMatchIn(txt)
            .map(m => "\"[^\"]+\":".r.findAllIn(m.group(1)).size))
      }
    } catch { case _: Throwable => None }

  /** Scale-factor stamp of an existing artifact (None if absent or
    * unreadable — then the SF guard does not block the write). */
  private[graft] def incumbentSfDir(path: java.nio.file.Path): Option[String] =
    try {
      if (!java.nio.file.Files.isRegularFile(path)) None
      else "\"sf\":\"([^\"]+)\"".r.findFirstMatchIn(
        java.nio.file.Files.readString(path)).map(_.group(1))
    } catch { case _: Throwable => None }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Engine.session("graft-bench")
    val errors = scala.collection.mutable.Map.empty[String, String]
    val loads = scala.collection.mutable.Map.empty[String,
      scala.collection.mutable.ArrayBuffer[Double]]
    // warmup runs record their load SEPARATELY (ADVICE r11): mixing
    // them into `loads` offset the load↔sample alignment by one, so
    // loads[i] did not describe samples[i] exactly in the flaky case
    // the instrumentation exists for
    val warmupLoads = scala.collection.mutable.Map.empty[String, Double]
    var inWarmup = false
    def runOne(name: String): Option[Double] = {
      // timed runs must not read persisted staging warmed by a prior
      // run of the same query — clear so every run pays full cost
      spark.catalog.clearCache()
      // producer pays: the query's own memo slots start cold
      operators.Memo.beforeTimed(name)
      val fn = SparkEntry.queries(name)
      // sampled before the run, recorded only on SUCCESS — a failed
      // run drops its sample from `samples`, so recording its load
      // would desynchronize the two lists and make the load↔sample
      // correlation ambiguous exactly in the flaky case this
      // instrumentation exists to diagnose
      val load = loadAvg()
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        if (inWarmup) warmupLoads(name) = load
        else loads.getOrElseUpdate(name,
          scala.collection.mutable.ArrayBuffer.empty) += load
        Some((System.nanoTime() - t0) / 1e9)
      } catch { case e: Throwable =>
        System.err.println(s"[bench] FAILED $name: ${e.getMessage}")
        errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
          .linesIterator.take(1).mkString.take(300)
        None
      }
    }
    // locale-pinned formatting: the f interpolator uses the default
    // locale, which can emit comma decimals (invalid JSON)
    def num(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    def jstr(s: String): String =
      "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    // optional args (dev iteration only; the driver passes none):
    // bench just the named queries
    val names = {
      val all = SparkEntry.queries.keys.toSeq.sorted
      if (args.nonEmpty) all.filter(args.toSet) else all
    }
    inWarmup = true
    names.foreach(runOne) // warmup: JVM JIT + codegen cache + FS cache
    inWarmup = false
    val samples: Map[String, Seq[Double]] =
      (1 to rounds).flatMap(_ => names.flatMap(n => runOne(n).map(n -> _)))
        .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val timed = names.filter(samples.contains)
    val results = timed.map(n => n -> samples(n).min)
    val qs = results.map { case (k, v) => "\"" + k + "\":" + num(v) }
      .mkString("{", ",", "}")
    val raw = timed.map { n =>
      "\"" + n + "\":[" + samples(n).map(num).mkString(",") + "]"
    }.mkString("{", ",", "}")
    // per-sample 1-min load averages (successful TIMED runs only —
    // strictly index-aligned with `samples`: failed runs drop BOTH
    // their sample and their load; warmup loads ship under the
    // separate "warmup_load" key) + the max seen anywhere: "isolated"
    // iff the whole run stayed near the bench's own footprint
    val loadJson = timed.map { n =>
      "\"" + n + "\":[" + loads(n).map(num).mkString(",") + "]"
    }.mkString("{", ",", "}")
    val warmupJson = timed.flatMap(n => warmupLoads.get(n).map(l =>
      "\"" + n + "\":" + num(l))).mkString("{", ",", "}")
    val maxLoad = {
      val all = loads.values.flatten ++ warmupLoads.values
      if (all.isEmpty) -1.0 else all.max
    }
    val errs = errors.toSeq.sortBy(_._1)
      .map { case (k, v) => jstr(k) + ":" + jstr(v) }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val filtered = args.nonEmpty
    // execution-environment stamp (VERDICT r15 items 2+3): the driver
    // tails stdout, and r14's line — which shipped per-query samples +
    // load arrays, tens of KB — was clipped mid-object, blinding the
    // round-over-round comparison; the scaling heuristic also flagged
    // "suspect_cpus_ignored" because effective parallelism was not in
    // the artifact. The STDOUT line is now the lean contract fields
    // (metric/value/unit/n_queries/partial/queries/errors/sf) plus the
    // master/parallelism stamp; the full telemetry (samples, per-
    // sample loads, warmup loads) ships only in the committed file.
    val stamp = s""""cpus":${spark.sparkContext.defaultParallelism},""" +
      s""""master":${jstr(spark.sparkContext.master)}"""
    val lean =
      s"""{"metric":"total","value":${num(total)},"unit":"sec","n_queries":${names.size},"partial":$filtered,$stamp,"max_load":${num(maxLoad)},"queries":$qs,"errors":$errs,"sf":"$sfDir"}"""
    val json =
      s"""{"metric":"total","value":${num(total)},"unit":"sec","n_queries":${names.size},"partial":$filtered,$stamp,"queries":$qs,"samples":$raw,"loadavg":$loadJson,"warmup_load":$warmupJson,"max_load":${num(maxLoad)},"errors":$errs,"sf":"$sfDir"}"""
    println(lean)
    // the driver's artifact keeps only a tail of stdout, which has
    // truncated per-query timings out of past rounds' records — also
    // write the full JSON to a file the round snapshot commits, so
    // regressions stay diagnosable from git history alone. Filtered
    // dev smokes go to bench_dev.json — they must never replace the
    // round's full-suite record (artifactTarget's contract).
    val incumbent = java.nio.file.Paths.get("bench_latest.json")
    val target = artifactTarget(filtered, names.size,
      incumbentQueryCount(incumbent), sfDir, incumbentSfDir(incumbent),
      hadErrors = errors.nonEmpty)
    if (target != "bench_latest.json")
      System.err.println(s"[bench] partial/narrower run -> $target " +
        "(bench_latest.json preserved)")
    try java.nio.file.Files.write(
      java.nio.file.Paths.get(target),
      (json + "\n").getBytes("UTF-8"))
    catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $target: $e") }
    spark.stop()
    // a failed query is visible in "errors" AND in the exit code, but
    // only after the full artifact is printed
    if (errors.nonEmpty) sys.exit(2)
  }
}
