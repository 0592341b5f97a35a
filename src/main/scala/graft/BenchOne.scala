package graft

/** Targeted same-session timing: time ONLY the named queries under the
  * [[Bench]] protocol (untimed warm-up, interleaved reps of
  * [[BenchSession.timeFn]]), print every sample as it lands and then
  * min/median/max per query. A failed sample is reported and the run
  * goes on. Args: `sfDir name1,name2,... [reps] [variants]`.
  *
  * `variants` (optional) is a same-session conf A/B: `|`-separated
  * groups of `key=value,key=value`, each group one variant and an
  * empty group the unmodified session: `|spark.sql.adaptive.enabled=false`
  * is baseline vs AQE off. The keys are set before and restored after
  * every sample, so variants cannot leak into each other, and the
  * variants alternate inside each rep, so a host steal burst cannot
  * land on one side only.
  *
  * Per-query wall times from DIFFERENT sessions are not comparable on
  * this host (documented 60–92% steal bursts, Bench.scala). To A/B two
  * commits, run the identical command in a checkout of each,
  * alternating the invocations, and compare the printed minima. */
object BenchOne {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args(1).split(",").toSeq
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
    val reps = if (args.length > 2) args(2).toInt else 3
    val withConf = args.length > 3
    val variants = if (withConf) parseVariants(args(3)) else Seq(Nil)
    def label(n: String, vi: Int): String =
      if (withConf) s"$n v$vi" else n
    val spark = BenchSession.build()
    BenchSession.warmUp(spark, sfDir)
    val samples =
      for (r <- 1 to reps; n <- names; (vs, vi) <- variants.zipWithIndex)
      yield {
        val prior = vs.map { case (k, _) => k -> spark.conf.getOption(k) }
        vs.foreach { case (k, v) => spark.conf.set(k, v) }
        val s =
          try BenchSession.timeFn(spark, sfDir, n, SparkEntry.queries(n))
          finally prior.foreach {
            case (k, Some(v)) => spark.conf.set(k, v)
            case (k, None)    => spark.conf.unset(k)
          }
        println(s"[benchone] rep $r ${label(n, vi)} " +
          s.fold("FAILED")(t => f"$t%.3f s"))
        (n, vi) -> s
      }
    for (n <- names; (vs, vi) <- variants.zipWithIndex) {
      val ok = samples.collect { case ((`n`, `vi`), Some(t)) => t }
      val failed = reps - ok.size
      val conf =
        if (withConf) " conf=" + vs.map { case (k, v) => s"$k=$v" }.mkString(",")
        else ""
      if (ok.isEmpty)
        println(s"[benchone] ${label(n, vi)} FAILED all $reps samples$conf")
      else {
        val sorted = ok.sorted
        println(f"[benchone] ${label(n, vi)} min=${sorted.head}%.3f " +
          f"med=${sorted(sorted.size / 2)}%.3f max=${sorted.last}%.3f " +
          s"samples=${ok.map(t => f"$t%.3f").mkString(",")}" +
          (if (failed > 0) s" failed=$failed" else "") + conf)
      }
    }
    graft.streaming.StagedDrops.cleanup(spark)
    graft.sources.Scratch.sweep(spark)
    spark.stop()
  }

  /** `k=v,k=v|k=v|` → one conf list per `|`-group, an empty group
    * (leading, trailing or between bars) being the unmodified session. */
  private[graft] def parseVariants(spec: String): Seq[Seq[(String, String)]] =
    spec.split("\\|", -1).toSeq.map(_.trim).map { g =>
      if (g.isEmpty) Nil
      else g.split(',').toSeq.map { kv =>
        val i = kv.indexOf('=')
        require(i > 0, s"conf variant entry '$kv' is not key=value")
        kv.take(i).trim -> kv.drop(i + 1).trim
      }
    }
}
