package graft

import java.nio.file.{Files, Paths}

/** Benchmark main (driver contract): run every SparkEntry query on
  * SPARK_GRAFT_SF_DIR, print ONE JSON line with per-query seconds.
  *
  * Methodology: one untimed warm-up action first (JVM/classloader/
  * codegen warm-up otherwise lands on whichever query runs first and
  * distorts it by ~15s), then each query timed on a count() action;
  * the reported figure is the MIN over SPARK_GRAFT_BENCH_REPS (default
  * 3) interleaved rounds. Min-of-rounds is deliberate: this container
  * runs on a host with BURSTY CPU STEAL — /proc/stat shows steal
  * spiking to 60-92% for tens of seconds at a time (measured while the
  * guest was otherwise idle), which stretched individual queries
  * 10-30x at random and made round-over-round numbers incomparable.
  * Interleaving the rounds (all queries once, then all again) spaces
  * the two samples of each query minutes apart, so one steal burst
  * cannot hit both; the min measures the engine, not the host.
  * Between queries every persistent RDD (the sketch operators'
  * localCheckpoints) is dropped — the queries are independent; letting
  * one query's pinned blocks pressure the next one's execution memory
  * also distorted numbers. local[n] takes every core the JVM may use
  * ([[BenchSession.cpus]]); shuffle.partitions=n keeps one
  * post-shuffle partition per core (200 would multiply the task
  * scheduling overhead at this scale); AQE coalesces the rest.
  *
  * The metric line is BOTH printed and written to the file named by
  * SPARK_GRAFT_BENCH_OUT (default ./BENCH_OUT.json): sbt's logger
  * prefixes stdout with [info], which broke the driver's JSON parse
  * of round 1/2 benches.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = BenchSession.build()
    // Warm-up: exercise scan+shuffle+codegen once, untimed.
    BenchSession.warmUp(spark, sfDir)
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt max 1
    val names = SparkEntry.queries.keys.toSeq.sorted
    // One timing protocol for every measurement in this file — the
    // portable-vs-fast delta is only meaningful if both sides are
    // measured identically.
    def timeOne(name: String): Option[Double] =
      BenchSession.timeFn(spark, sfDir, name, SparkEntry.queries(name))
    val samples = for (_ <- 1 to reps; name <- names) yield name -> timeOne(name)
    // Min over the SUCCESSFUL samples only. `failed` = zero successful
    // reps (excluded from the total); `flaky` = failed some reps but
    // succeeded at least once (its min DOES contribute to the total) —
    // two distinct keys so a consumer can tell a dead query from an
    // intermittent one.
    val mins = names.flatMap { n =>
      val ok = samples.collect { case (`n`, Some(s)) => s }
      if (ok.nonEmpty) Some(n -> ok.min) else None
    }.toMap
    val failed = names.filterNot(mins.contains)
    val flaky = names.filter(n => mins.contains(n) &&
      samples.exists { case (m, s) => m == n && s.isEmpty })
    // Adaptive retry: a steal burst lasting minutes can inflate every
    // interleaved sample of ONE query while its neighbors stay fast.
    // Any query whose min is still an outlier against the field gets
    // one extra isolated sample — bounded extra work, and a genuinely
    // fast query gets the quiet-window measurement it deserves.
    val med = if (mins.isEmpty) 0.0
      else mins.values.toSeq.sorted.apply(mins.size / 2)
    val results = names.filter(mins.contains).map { n =>
      val m = mins(n)
      n -> (if (m > math.max(3 * med, 2.0))
        timeOne(n).fold(m)(math.min(m, _)) else m)
    }
    // At-scale hash configs (xxhash64 instead of the oracle-portable
    // md5-prefix family) for the sketch queries: min of 2 isolated
    // samples each, reported under a separate key so every BENCH file
    // carries the portable-vs-fast delta.
    val fastHash: Seq[(String, Double)] = SparkEntry.specs
      .flatMap(q => q.fastHash.map(q.name -> _)).sortBy(_._1)
      .flatMap { case (n, fn) =>
        (1 to 2).flatMap(_ =>
          BenchSession.timeFn(spark, sfDir, s"fast-hash $n", fn))
          .minOption.map(n -> _)
      }
    val perQuerySamples = names.map { n =>
      n -> samples.collect { case (`n`, Some(s)) => s }.toSeq
    }
    // Per-query regression gate (in-harness, not judge-side): compare
    // against the PRIOR run's minima — BENCH_OUT.json is read before
    // this run overwrites it (override via SPARK_GRAFT_BENCH_BASELINE).
    // A query regresses at >2x the prior min AND >0.5s absolute — the
    // same thresholds the round verdicts applied by hand.
    val baselinePath = sys.env.getOrElse("SPARK_GRAFT_BENCH_BASELINE",
      sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_OUT.json"))
    val prior = readBaseline(baselinePath, sfDir)
    val regressions = results.flatMap { case (n, now) =>
      prior.get(n).collect {
        case p if now >= 2 * p && now - p >= 0.5 =>
          n -> (now / p)
      }
    }
    val line = metricLine(results, failed, flaky, fastHash,
      perQuerySamples, sfDir, regressions)
    println(line)
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_OUT.json")
    try Files.writeString(Paths.get(outPath), line + "\n")
    catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $outPath: ${e.getMessage}")
    }
    // a one-line summary the driver's tail-truncation cannot damage
    // (BENCH_rN.json tails have truncated mid-line in past rounds)
    val total = if (results.nonEmpty) results.map(_._2).sum else 0.0
    try Files.writeString(Paths.get("BENCH_SUMMARY.json"),
      s"""{"total":$total,"n":${results.size},"failed":${failed.size},"flaky":${flaky.size},"sf":"$sfDir"}""" + "\n")
    catch { case _: Throwable => () }
    graft.streaming.StagedDrops.cleanup(spark)
    graft.sources.Scratch.sweep(spark)
    spark.stop()
  }

  /** Extract the prior run's per-query minima from a metric-line file
    * — the flat `"queries":{"name":sec,...}` object. Zero-dependency
    * parse: the object is brace-free inside by construction (names are
    * escaped, values are plain doubles), so a non-greedy regex is
    * exact. Missing/corrupt baseline → empty map (first run, or the
    * driver truncated the file — the gate just reports nothing).
    *
    * The baseline's `"sf"` field must equal THIS run's sfDir, else the
    * gate is skipped entirely: an sf0.1 run compared against an
    * sf0.001 baseline would flag nearly every query as regressed with
    * bogus ratios. A baseline predating the sf field (no `"sf"` key)
    * is also skipped — its scale is unknowable. */
  private[graft] def readBaseline(path: String,
      sfDir: String): Map[String, Double] =
    try {
      // Both the sf gate and the queries extraction run against ONE
      // line — the LAST non-empty line of the file. Anchoring them to
      // different matches (sf at end-of-text, queries at the first
      // match) silently diverges if the baseline ever holds more than
      // one metric line (append-mode history): the gate would check
      // line N's sf while gating line 1's queries.
      val line = Files.readString(Paths.get(path)).linesIterator
        .filter(_.trim.nonEmpty).toSeq.lastOption.getOrElse("")
      // anchored to the TOP-LEVEL field: metricLine writes sf as the
      // line's final key, so `"sf":"…"}` at end-of-line is it — a
      // stray "sf" key inside queries/samples can't shadow it. The
      // capture is compared in ESCAPED space (esc(sfDir) vs the raw
      // capture), so an sfDir containing a quote or backslash still
      // matches its own baseline instead of silently disabling the
      // gate.
      val sfCap = """"sf":"((?:[^"\\]|\\.)*)"\}\s*$""".r
        .findFirstMatchIn(line).map(_.group(1))
      val sfMatches = sfCap.contains(escJson(sfDir))
      if (!sfMatches) {
        System.err.println(s"[bench] regression gate skipped: baseline " +
          s"sf=${sfCap.getOrElse("<absent>")} does not match this " +
          s"run's $sfDir")
        Map.empty
      }
      else """"queries":\{(.*?)\}""".r.findFirstMatchIn(line).map { m =>
        """"((?:[^"\\]|\\.)+)":([0-9.Ee+-]+)""".r
          .findAllMatchIn(m.group(1))
          .map(p => p.group(1) -> p.group(2).toDouble).toMap
      }.getOrElse(Map.empty)
    } catch { case _: Throwable => Map.empty }

  /** The JSON string escaping [[metricLine]] writes with — shared so
    * [[readBaseline]] compares sf values in the same escaped space. */
  private[graft] def escJson(s: String): String = s.flatMap {
    case '"'          => "\\\""
    case '\\'         => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c            => c.toString
  }

  /** The JSON metric line, built as a pure function so BenchLineSpec
    * can round-trip it through a real JSON parser — a consumer's
    * `json.load` of this line once broke on sbt [info] prefixes, and a
    * malformed line silently zeroes a bench result, so its
    * well-formedness is worth a unit lock. Strings are escaped
    * (quote/backslash/control chars); doubles are finite by
    * construction (nanoTime deltas).
    *
    * `samples` carries EVERY successful per-rep timing per query —
    * the within-session variance a cross-round per-query comparison
    * needs to separate host-steal noise from plan changes without
    * re-running anything (the ±15% total swing and 2x per-query
    * swings cost two rounds of perf adjudication; min-of-reps alone
    * hides the spread). The adaptive-retry extra sample is NOT part
    * of `samples`, so a query's `queries` value can sit below
    * min(samples) — that gap itself marks "an isolated quiet-window
    * retry beat every interleaved rep", i.e. steal hit all rounds.
    */
  private[graft] def metricLine(
      results: Seq[(String, Double)],
      failed: Seq[String], flaky: Seq[String],
      fastHash: Seq[(String, Double)],
      samples: Seq[(String, Seq[Double])],
      sfDir: String,
      regressions: Seq[(String, Double)] = Nil): String = {
    def esc(s: String): String = escJson(s)
    def obj(m: Iterable[(String, Double)]): String =
      m.map { case (k, v) => "\"" + esc(k) + "\":" + v }
        .mkString("{", ",", "}")
    def arr(xs: Seq[String]): String =
      xs.distinct.sorted.map("\"" + esc(_) + "\"").mkString("[", ",", "]")
    // Locale.ROOT: the f interpolator renders 1.25 as "1,250" under a
    // comma-decimal default locale, which would corrupt the JSON —
    // exactly the silent-zero failure this function exists to prevent
    val samplesJson = samples.map { case (n, ss) =>
      "\"" + esc(n) + "\":[" + ss.map(s =>
        String.format(java.util.Locale.ROOT, "%.3f", Double.box(s)))
        .mkString(",") + "]"
    }.mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.map(_._2).sum else 0.0
    s"""{"metric":"total","value":$total,"unit":"sec","queries":${obj(results)},"failed":${arr(failed)},"flaky":${arr(flaky)},"fast_hash":${obj(fastHash)},"regressions":${obj(regressions)},"samples":$samplesJson,"sf":"${esc(sfDir)}"}"""
  }
}
