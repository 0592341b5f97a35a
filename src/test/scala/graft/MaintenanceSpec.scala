package graft

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._
import graft.operators.{Maintenance, ZOrder}

class MaintenanceSpec extends SparkSpec {
  import spark.implicits._

  test("compact rewrites many small files into few sized files") {
    val in = tmpDir("cmp_in")
    val out = tmpDir("cmp_out")
    // 64 tiny files
    (0L until 6400L).toDF("id").repartition(64).write
      .mode("overwrite").parquet(in)
    val before = new java.io.File(in).listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(before == 64)
    val after = Maintenance.compact(spark, in, out,
      targetBytes = 10L * 1024 * 1024)
    assert(after >= 1 && after <= 4, s"expected few files, got $after")
    assert(spark.read.parquet(out).count() == 6400L)
  }

  test("deletion vectors: sidecar-only deletes, composition, compaction") {
    val table = tmpDir("dv_table")
    val dv = tmpDir("dv_side")
    (0L until 1000L).map(i => (i, i % 10L)).toDF("id", "grp")
      .repartition(4).write.mode("overwrite").parquet(table)
    def fileSet(d: String) = new java.io.File(d).listFiles()
      .filter(_.getName.endsWith(".parquet"))
      .map(f => f.getName -> f.lastModified()).toMap
    val before = fileSet(table)
    // first delete: grp = 3 (100 rows), data files untouched
    val n1 = Maintenance.writeDeletionVector(spark, table, dv,
      col("grp") === 3L)
    assert(n1 == 100L)
    assert(fileSet(table) == before, "a DV write must not touch data files")
    assert(Maintenance.readWithDeletes(spark, table, dv)
      .filter(col("grp") === 3L).count() == 0L)
    // second, OVERLAPPING delete composes idempotently: grp in (3, 4)
    val n2 = Maintenance.writeDeletionVector(spark, table, dv,
      col("grp").isin(3L, 4L))
    assert(n2 == 200L, s"return value is THIS call's positions, got $n2")
    assert(spark.read.parquet(dv).count() == 300L,
      "sidecar accumulates both vectors' positions")
    val served = Maintenance.readWithDeletes(spark, table, dv)
    assert(served.count() == 800L,
      "overlapping positions must not double-delete")
    // minor compaction: rewriting survivors and dropping the sidecar
    // yields the same logical table
    val compacted = tmpDir("dv_compacted")
    served.repartition(2).write.mode("overwrite").parquet(compacted)
    val a = spark.read.parquet(compacted).orderBy("id").collect().toSeq
    val b = served.orderBy("id").collect().toSeq
    assert(a == b)
  }

  test("fileStats manifest carries per-file min/max for pruning") {
    val in = tmpDir("stats_in")
    // two files with disjoint id ranges (repartitionByRange)
    (0L until 1000L).toDF("id").repartitionByRange(2, col("id"))
      .write.mode("overwrite").parquet(in)
    val stats = Maintenance.fileStats(spark, in, Seq("id")).collect()
    assert(stats.length == 2)
    val ranges = stats.map(r =>
      (r.getLong(r.fieldIndex("min_id")), r.getLong(r.fieldIndex("max_id"))))
      .sortBy(_._1)
    // disjoint ranges -> a point predicate prunes one of the two files
    assert(ranges(0)._2 < ranges(1)._1)
    assert(stats.map(_.getLong(stats.head.fieldIndex("n_rows"))).sum == 1000L)
  }

  test("footer-based fileStats matches the scan-based manifest exactly") {
    val in = tmpDir("fstats_in")
    spark.range(0, 3000).toDF("id")
      .withColumn("v", col("id").cast("double") / 7)
      .withColumn("s", concat(lit("k"), lpad(col("id").cast("string"), 6, "0")))
      .repartitionByRange(3, col("id"))
      .write.mode("overwrite").parquet(in)
    val cols = Seq("id", "v", "s")
    // input_file_name() renders file:///…, FileStatus file:/… — compare
    // on the basename, which both carry
    def norm(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
      df.withColumn("file", regexp_extract(col("file"), "([^/]+)$", 1))
        .orderBy("file").collect().toSeq.map(_.toSeq)
    val scan = norm(Maintenance.fileStats(spark, in, cols))
    val foot = norm(Maintenance.fileStatsFromFooters(spark, in, cols))
    assert(scan.nonEmpty && scan.length == 3)
    assert(foot == scan,
      s"footer manifest must equal the scan manifest:\n$foot\nvs\n$scan")
    // partitioned layout: footer listing must recurse into k=v subdirs
    val part = tmpDir("fstats_part")
    spark.range(0, 200).toDF("id")
      .withColumn("v", col("id").cast("double"))
      .withColumn("s", col("id").cast("string"))
      .withColumn("p", col("id") % 2)
      .write.partitionBy("p").mode("overwrite").parquet(part)
    val pScan = norm(Maintenance.fileStats(spark, part, cols))
    val pFoot = norm(Maintenance.fileStatsFromFooters(spark, part, cols))
    assert(pScan.nonEmpty && pFoot == pScan,
      s"partitioned footer manifest must equal the scan manifest:\n$pFoot\nvs\n$pScan")
  }

  test("footer fileStats: empty file, narrow ints, all-null column") {
    // zero row groups (an empty-table write) must yield a null-stats
    // row with n_rows=0, not crash on an empty reduce
    val empty = tmpDir("fstats_empty")
    spark.range(0).toDF("id").coalesce(1)
      .write.mode("overwrite").parquet(empty)
    val er = Maintenance.fileStatsFromFooters(spark, empty, Seq("id"))
      .collect()
    assert(er.length == 1)
    assert(er.head.getLong(er.head.fieldIndex("n_rows")) == 0L)
    assert(er.head.isNullAt(er.head.fieldIndex("min_id")))
    // smallint/tinyint stats arrive as java Integer and must narrow to
    // the declared Short/Byte; an entirely-null column must match the
    // scan manifest's null min/max instead of failing conversion
    val in = tmpDir("fstats_narrow")
    Seq((9.toShort, 5.toByte, Option.empty[String]),
        (1.toShort, 2.toByte, Option.empty[String]))
      .toDF("s", "b", "n")
      .coalesce(1).write.mode("overwrite").parquet(in)
    val cols = Seq("s", "b", "n")
    def norm(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
      df.withColumn("file", regexp_extract(col("file"), "([^/]+)$", 1))
        .orderBy("file").collect().toSeq.map(_.toSeq)
    val scan = norm(Maintenance.fileStats(spark, in, cols))
    val foot = norm(Maintenance.fileStatsFromFooters(spark, in, cols))
    assert(scan.nonEmpty && foot == scan,
      s"narrow-int/all-null manifest must match:\n$foot\nvs\n$scan")
  }

  test("z-ordered layout tightens per-file ranges on BOTH dimensions") {
    val flat = tmpDir("zcmp_flat")
    val zed = tmpDir("zcmp_z")
    val grid = (for (x <- 0L until 64L; y <- 0L until 64L) yield (x, y))
      .toDF("x", "y")
    // baseline: sort by x only -> y is unconstrained per file
    grid.repartitionByRange(16, col("x")).write.mode("overwrite").parquet(flat)
    ZOrder.zorderLayout(grid, "x", "y", partitions = 16, bits = 6)
      .write.mode("overwrite").parquet(zed)
    def spans(dir: String): (Double, Double) = {
      val s = Maintenance.fileStats(spark, dir, Seq("x", "y")).collect()
      (s.map(r => r.getLong(r.fieldIndex("max_x")) -
        r.getLong(r.fieldIndex("min_x"))).sum.toDouble / s.length,
        s.map(r => r.getLong(r.fieldIndex("max_y")) -
          r.getLong(r.fieldIndex("min_y"))).sum.toDouble / s.length)
    }
    val (fx, fy) = spans(flat)
    val (zx, zy) = spans(zed)
    // x-sorted: tight x, full-width y. z-order: both bounded.
    assert(fy > 50, s"x-sorted baseline should leave y wide, got $fy")
    assert(zx < fy / 2 && zy < fy / 2,
      s"z-order must bound both dims: zx=$zx zy=$zy baseline fy=$fy")
  }

  test("layout manifest: z-buckets bound both dims, linear leaves x wide") {
    val rows = Maintenance.layoutCompareQuery(spark, sf0001).collect()
    def avgSpan(layout: String): Double = {
      val rs = rows.filter(_.getString(0) == layout)
      rs.map(r => r.getLong(r.fieldIndex("max_x")) -
        r.getLong(r.fieldIndex("min_x"))).sum.toDouble / rs.length
    }
    val (lin, zed) = (avgSpan("linear"), avgSpan("zorder"))
    // time-sorted layout leaves the event dimension at full width in
    // every bucket; z-order pins its top bits per bucket
    assert(lin > 500, s"linear x-span should be wide, got $lin")
    assert(zed < lin / 2, s"z-order must bound x: zorder=$zed linear=$lin")
  }

  test("pruning proof: x-predicate reads fewer z-order files than linear") {
    val rows = Maintenance.pruningProofQuery(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    val (linTotal, linRead) = rows(("linear", "x_only"))
    val (zTotal, zRead) = rows(("zorder", "x_only"))
    // time-sorted files span full x width: an x-only predicate reads
    // every linear file; z-buckets pin the top x-bits
    assert(linRead == linTotal,
      s"linear layout cannot prune x: read $linRead of $linTotal")
    assert(zRead < linRead,
      s"z-order must prune the x predicate: $zRead vs $linRead")
    // conjunctive box: z-order prunes at least as well as either alone
    val (_, zBox) = rows(("zorder", "xy_box"))
    assert(zBox <= zRead)
  }

  test("pruning proof plans one events scan for both layouts and all predicates") {
    // the 2-way layout explode and the 3-way predicate explode widen
    // ROWS, not scans: a second file scan would mean the manifest
    // subtree was duplicated per branch
    val p = Maintenance.pruningProofQuery(spark, sf0001)
      .queryExecution.executedPlan.toString
    val scans = "events\\.parquet".r.findAllIn(p).length
    assert(scans == 1, s"expected exactly one events scan, got $scans:\n" +
      p.take(1500))
  }

  test("copy-on-write merge rewrites only touched files, copies the rest") {
    val in = tmpDir("cow_in")
    val out = tmpDir("cow_out")
    // 4 files with disjoint clustered key ranges 0-249, 250-499, ...
    (0L until 1000L).map(i => (i, s"val$i")).toDF("id", "payload")
      .repartitionByRange(4, col("id"))
      .write.mode("overwrite").parquet(in)
    // updates touch keys 10 and 20 (both in file 1) + a brand-new key
    val updates = Seq((10L, "NEW10"), (20L, "NEW20"), (5000L, "NEW5000"))
      .toDF("id", "payload")
    val (rewritten, copied) =
      Maintenance.copyOnWriteMerge(spark, in, out, updates, "id")
    assert(rewritten == 1L, s"one touched file, got $rewritten")
    assert(copied == 3L, s"three pass-through files, got $copied")
    // untouched files are byte-identical copies
    val inFiles = new java.io.File(in).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(f =>
        f.getName -> java.nio.file.Files.readAllBytes(f.toPath).toSeq).toMap
    val copiedFiles = new java.io.File(out).listFiles()
      .filter(_.getName.startsWith("copied-"))
    assert(copiedFiles.length == 3)
    copiedFiles.foreach { f =>
      val orig = inFiles(f.getName.stripPrefix("copied-"))
      assert(java.nio.file.Files.readAllBytes(f.toPath).toSeq == orig,
        s"${f.getName} not byte-identical")
    }
    // merge semantics equal a full-rewrite reference merge
    val result = spark.read.parquet(out)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1)))
    val expected = ((0L until 1000L).filterNot(i => i == 10L || i == 20L)
      .map(i => (i, s"val$i")) ++
      Seq((10L, "NEW10"), (20L, "NEW20"), (5000L, "NEW5000")))
      .sortBy(_._1)
    assert(result.toSeq == expected)
  }

  test("copy-on-write merge with no matched keys appends only") {
    val in = tmpDir("cow2_in")
    val out = tmpDir("cow2_out")
    (0L until 100L).map(i => (i, i * 2)).toDF("id", "v")
      .repartitionByRange(2, col("id"))
      .write.mode("overwrite").parquet(in)
    val updates = Seq((999L, 0L)).toDF("id", "v")
    val (rewritten, copied) =
      Maintenance.copyOnWriteMerge(spark, in, out, updates, "id")
    assert(rewritten == 0L && copied == 2L)
    assert(spark.read.parquet(out).count() == 101L)
  }

  test("copy-on-write merge distributes pass-through copies across tasks") {
    val in = tmpDir("cow3_in")
    val out = tmpDir("cow3_out")
    // 41 clustered-key files; updates touch exactly one, so 40 files
    // flow through the pass-through copy path (untouched >> touched)
    (0L until 4100L).map(i => (i, s"v$i")).toDF("id", "payload")
      .repartitionByRange(41, col("id"))
      .write.mode("overwrite").parquet(in)
    val updates = Seq((1L, "NEW1")).toDF("id", "payload")
    // collect, per task, the named copy accumulator's task-side update:
    // a nonzero update in a TASK event is direct evidence the copy ran
    // inside executor tasks, not a driver loop
    val copyTasks = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (te.taskInfo != null) te.taskInfo.accumulables.foreach { a =>
          if (a.name.contains("cow_copied_files"))
            a.update.foreach(u =>
              if (u.toString.toLong > 0)
                copyTasks.put(te.taskInfo.taskId, u.toString.toLong))
        }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val (rewritten, copied) =
        Maintenance.copyOnWriteMerge(spark, in, out, updates, "id")
      assert(rewritten == 1L, s"one touched file, got $rewritten")
      assert(copied == 40L, s"forty pass-through files, got $copied")
      // listener delivery is async — poll until the copy tasks land
      val deadline = System.currentTimeMillis + 20000
      while (copyTasks.values.asScala.sum < 40L &&
        System.currentTimeMillis < deadline) Thread.sleep(50)
      assert(copyTasks.values.asScala.sum == 40L,
        s"all 40 copies must be task-side accumulator updates, saw $copyTasks")
      assert(copyTasks.size >= 2,
        s"copy work must spread across tasks, saw ${copyTasks.size} task(s)")
    } finally spark.sparkContext.removeSparkListener(listener)
    // and the copies are still byte-identical
    val inBytes = new java.io.File(in).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(f =>
        f.getName -> java.nio.file.Files.readAllBytes(f.toPath).toSeq).toMap
    val copiedFiles = new java.io.File(out).listFiles()
      .filter(_.getName.startsWith("copied-"))
    assert(copiedFiles.length == 40)
    copiedFiles.foreach { f =>
      assert(java.nio.file.Files.readAllBytes(f.toPath).toSeq ==
        inBytes(f.getName.stripPrefix("copied-")),
        s"${f.getName} not byte-identical")
    }
  }

  test("mergeSchema read unions evolved file schemas") {
    val dir = tmpDir("evo")
    Seq((1L, "a")).toDF("id", "v1").write.parquet(dir + "/p=1")
    Seq((2L, "b", 9.5)).toDF("id", "v1", "v2").write.parquet(dir + "/p=2")
    val merged = spark.read.option("mergeSchema", "true").parquet(dir)
    assert(merged.columns.toSet == Set("id", "v1", "v2", "p"))
    val rows = merged.orderBy("id").collect()
    assert(rows(0).isNullAt(rows(0).fieldIndex("v2"))) // early file null-fills
    assert(rows(1).getDouble(rows(1).fieldIndex("v2")) == 9.5)
  }

  test("q178 evolution round-trip loses no rows and nulls exactly epoch 1") {
    val out = graft.operators.Extensions
      .q178EvolutionRoundtrip(spark, sf0001).collect()
    val docs = graft.sources.Tables.documents(spark, sf0001)
    // total mass preserved across the two epochs
    assert(out.map(_.getLong(1)).sum == docs.count())
    // the sentinel bucket is exactly the even-id (pre-schema) half,
    // and none of its rows carried a source value through the merge
    val pre = out.find(_.getString(0) == "pre_schema").get
    assert(pre.getLong(1) ==
      docs.filter($"doc_id" % 2 === 0).count())
    assert(pre.getLong(3) == 0L)
    // every real-lang bucket counts only epoch-2 rows, all with source
    assert(out.filter(_.getString(0) != "pre_schema")
      .forall(r => r.getLong(3) == r.getLong(1)))
    graft.sources.Scratch.sweep(spark)
  }

  test("q189 digest is order-invariant and content-sensitive") {
    import graft.operators.Maintenance
    val ev = graft.sources.Tables.events(spark, sf0001)
    val base = Maintenance.partitionDigest(ev).collect()
    // shuffling the input rows must not change any digest component
    val reordered = Maintenance
      .partitionDigest(ev.orderBy($"value", $"event_id".desc)).collect()
    assert(base.toSeq == reordered.toSeq)
    // dropping one row changes exactly that row's day partition
    val victim = ev.orderBy("event_id").limit(1).collect().head
    val without = Maintenance.partitionDigest(
      ev.filter($"event_id" =!= victim.getLong(0))).collect()
    val changedDays = base.map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap.toSet
      .diff(without.map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap.toSet)
    assert(changedDays.size == 1)
  }

  test("q190 drift flags exactly the days holding a dropped-slice row") {
    import graft.operators.Maintenance
    val ev = graft.sources.Tables.events(spark, sf0001)
    val touchedDays = ev.filter(pmod($"event_id", lit(997L)) === 0)
      .select(expr("year(ts) * 10000 + month(ts) * 100 + day(ts)")
        .cast("long").as("day"))
      .distinct().collect().map(_.getLong(0)).toSet
    val out = Maintenance.partitionDriftQuery(spark, sf0001).collect()
    val flagged = out.filter(_.getInt(3) == 1).map(_.getLong(0)).toSet
    assert(flagged == touchedDays)
    // row deltas agree with the slice size per flagged day
    out.foreach { r =>
      val delta = r.getLong(2) - r.getLong(1)
      assert(if (r.getInt(3) == 1) delta > 0 else delta == 0)
    }
  }

  test("columnProfile counts nulls, NDV, and extremes exactly") {
    val df = Seq[(java.lang.Long, java.lang.Long)](
      (1L, 10L), (2L, 10L), (3L, null), (3L, 30L), (null, null))
      .toDF("a", "b")
    val rows = graft.operators.Maintenance.columnProfile(df, Seq("a", "b"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toList
    assert(rows == List(
      ("a", 5L, 1L, 3L, 1L, 3L),
      ("b", 5L, 2L, 2L, 10L, 30L)), rows.toString)
  }

  test("incremental agg merge equals the from-scratch aggregate") {
    import org.apache.spark.sql.functions._
    val got = graft.operators.Maintenance
      .incrementalAggQuery(spark, sf0001).collect()
    val full = graft.sources.Tables.events(spark, sf0001)
      .groupBy("user_id")
      .agg(count(lit(1)).cast("long").as("n_events"),
        (round(sum(col("value").cast("decimal(38,10)")), 2) * 100)
          .cast("long").as("value_cents"),
        max(unix_millis(col("ts"))).cast("long").as("last_ms"))
      .orderBy("user_id").collect()
    assert(got.toSeq == full.toSeq)
  }

  test("evolveMerge: widening rewrites all files single-schema; missing columns null-fill; fast path survives") {
    val v0 = tmpDir("evo_v0")
    val v1 = tmpDir("evo_v1")
    val v2 = tmpDir("evo_v2")
    val v3 = tmpDir("evo_v3")
    Seq((1L, 10L, "a"), (2L, 20L, "b"), (3L, 30L, "c"), (4L, 40L, "d"))
      .toDF("k", "ver", "text")
      .repartitionByRange(4, col("k"))
      .write.mode("overwrite").parquet(v0)
    // WIDENING: updates add `tag` (and replace k=2) -> every base file
    // rewritten, no byte-copies, one widened schema, old rows null tag
    val up1 = Seq((2L, 21L, "b2", "T2"), (5L, 50L, "e", "T5"))
      .toDF("k", "ver", "text", "tag")
    val (rw1, cp1) = Maintenance.evolveMerge(spark, v0, v1, up1, "k")
    assert(rw1 == 4L && cp1 == 0L, s"widening: rw=$rw1 cp=$cp1")
    val t1 = spark.read.parquet(v1)
    assert(t1.columns.toSeq == Seq("k", "ver", "text", "tag"))
    val m1 = t1.collect().map(r => r.getLong(0) ->
      ((r.getLong(1), r.getString(2), Option(r.getString(3))))).toMap
    assert(m1 == Map(
      1L -> ((10L, "a", None)), 2L -> ((21L, "b2", Some("T2"))),
      3L -> ((30L, "c", None)), 4L -> ((40L, "d", None)),
      5L -> ((50L, "e", Some("T5")))))
    // MISSING COLUMN: updates that predate `tag` null-fill it and take
    // the fast path (no schema widening, untouched files byte-copied)
    val up2 = Seq((1L, 11L, "a2")).toDF("k", "ver", "text")
    val (rw2, cp2) = Maintenance.evolveMerge(spark, v1, v2, up2, "k")
    assert(cp2 > 0L, s"fast path must byte-copy untouched files (rw=$rw2)")
    val m2 = spark.read.parquet(v2).collect().map(r => r.getLong(0) ->
      ((r.getLong(1), Option(r.getString(3))))).toMap
    assert(m2(1L) == ((11L, None)), "a late-producer row must null-fill tag")
    assert(m2(2L) == ((21L, Some("T2"))), "untouched rows pass through")
    // BOTH directions at once: add `lang`, miss `text`
    val up3 = Seq((3L, 31L, "T3", "en")).toDF("k", "ver", "tag", "lang")
    val (rw3, cp3) = Maintenance.evolveMerge(spark, v2, v3, up3, "k")
    assert(cp3 == 0L, s"widening again: rw=$rw3 cp=$cp3")
    val t3 = spark.read.parquet(v3)
    assert(t3.columns.toSeq == Seq("k", "ver", "text", "tag", "lang"))
    val r3 = t3.filter(col("k") === 3L).head
    assert(r3.getLong(1) == 31L && r3.isNullAt(2) &&
      r3.getString(3) == "T3" && r3.getString(4) == "en")
    // the key must exist on both sides
    val bad = Seq((1L, 1L)).toDF("notk", "ver")
    intercept[IllegalArgumentException] {
      Maintenance.evolveMerge(spark, v3, tmpDir("evo_v4"), bad, "k")
    }
    ()
  }

  test("skip index: invisible sidecar, miss shapes, null-stats files stay candidates") {
    val t = tmpDir("ski_t")
    // two range-disjoint files plus one all-null-key file (footer has
    // no non-null values for k -> cannot prune)
    Seq((1L, "a"), (2L, "b")).toDF("k", "v").coalesce(1)
      .write.mode("overwrite").parquet(s"$t/part1.parquet.tmpdir")
    val fs = new org.apache.hadoop.fs.Path(t)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def promote(sub: String, name: String): Unit = {
      val p = fs.listStatus(new org.apache.hadoop.fs.Path(s"$t/$sub"))
        .map(_.getPath).filter(_.getName.startsWith("part-")).head
      fs.rename(p, new org.apache.hadoop.fs.Path(s"$t/$name"))
      fs.delete(new org.apache.hadoop.fs.Path(s"$t/$sub"), true)
    }
    promote("part1.parquet.tmpdir", "f1.parquet")
    Seq((10L, "c"), (11L, "d")).toDF("k", "v").coalesce(1)
      .write.mode("overwrite").parquet(s"$t/part2.parquet.tmpdir")
    promote("part2.parquet.tmpdir", "f2.parquet")
    Seq[(java.lang.Long, String)]((null, "n1"), (null, "n2"))
      .toDF("k", "v").coalesce(1)
      .write.mode("overwrite").parquet(s"$t/part3.parquet.tmpdir")
    promote("part3.parquet.tmpdir", "f3.parquet")
    val before = spark.read.parquet(t).count()
    assert(Maintenance.writeSkipIndex(spark, t, Seq("k")) == 3L)
    // the underscore sidecar is invisible to plain readers
    assert(spark.read.parquet(t).count() == before)
    // a hit prunes to the admitting file PLUS the unprunable
    // null-stats file — absence of evidence never drops a candidate
    val (r1, o1, n1) = lookup(t, 10L)
    assert(n1 == 3L && o1 == 2L,
      s"expected {f2, null-stats f3} as candidates, opened $o1 of $n1")
    assert(r1.map(_._2) == Seq("c"))
    // a key inside a candidate range but absent: file opened, 0 rows
    val (r2, o2, _) = lookup(t, 3L)
    assert(o2 == 1L && r2.isEmpty)
    // a key outside every range: only the unprunable file opens
    val (r3, o3, _) = lookup(t, 99L)
    assert(o3 == 1L && r3.isEmpty)
    assert(scanOf(t, scanFiles(t, 99L), 99L).columns.toSeq == Seq("k", "v"),
      "a miss must keep the table schema")
    // REBUILD on the already-indexed dir: the old sidecar must be
    // excluded from its own successor's file list (self-indexing was
    // the round-17 review's re-run bug) — same 3 data files, and the
    // lookups still answer identically
    assert(Maintenance.writeSkipIndex(spark, t, Seq("k")) == 3L)
    val idx = spark.read.parquet(s"$t/_skipindex").collect()
    assert(idx.length == 3 &&
      idx.forall(!_.getString(0).contains("_skipindex")),
      "a rebuilt index must never carry the prior index's own file")
    val (r4, o4, n4) = lookup(t, 10L)
    assert(n4 == 3L && o4 == 2L && r4.map(_._2) == Seq("c"))
  }

  /** Every data file of `dir`: what a declined lookup scans when no
    * index covers the key. */
  private def filesOf(dir: String): Seq[String] =
    Maintenance.listDataFiles(spark, dir)

  /** The files `Maintenance.pointLookup` names for its Spark scan when
    * it must decline (a byte cap of -1); Nil when no file is a
    * candidate, which the driver serves under any cap. */
  private def scanFiles(dir: String, key: Long): Seq[String] =
    Maintenance.pointLookup(spark, dir, filesOf(dir), "k", key,
      Maintenance.dataSchema(spark, dir), -1L).left.getOrElse(Nil)

  /** The serving route's Spark scan of `files`, filtered on `k`. */
  private def scanOf(dir: String, files: Seq[String],
      key: Long): org.apache.spark.sql.DataFrame =
    spark.read.schema(Maintenance.dataSchema(spark, dir))
      .parquet(files: _*).filter(col("k") === key)

  private def scanRows(dir: String, files: Seq[String],
      key: Long): Seq[(Option[Long], String)] =
    scanOf(dir, files, key).collect().toSeq.map(r =>
      (Option(r.getAs[java.lang.Long](0)).map(_.longValue), r.getString(1)))

  /** `Maintenance.pointLookup` of `key` in bigint column `k` under the
    * default byte cap: its (key, v) rows, files opened and index file
    * count. Its declined form must agree: the scan opens exactly the
    * files the driver read opened and returns the same rows. */
  private def lookup(dir: String, key: Long)
      : (Seq[(Option[Long], String)], Long, Long) = {
    val hit = Maintenance.pointLookup(spark, dir, filesOf(dir), "k", key,
      Maintenance.dataSchema(spark, dir), Maintenance.PointLookupMaxBytes)
      .getOrElse(fail(s"the driver declined key $key"))
    val scan = scanFiles(dir, key)
    assert(scan.length.toLong == hit.opened,
      s"key $key: the scan opens ${scan.length}, the driver ${hit.opened}")
    if (scan.nonEmpty)
      assert(scanRows(dir, scan, key) == kv(hit.rows), s"key $key")
    (kv(hit.rows), hit.opened, hit.total)
  }

  test("probe-loop candidate selection is pinned to pointLookup's") {
    // round-18 ADVICE: the proof loop re-implemented the serving
    // primitive's pruning rule. Both now call candidateFiles — this
    // pins the shared rule to pointLookup's observable (files opened,
    // and the files its over-cap scan opens) across hit /
    // interior-miss / out-of-range keys, and the null-stats
    // never-prune case on the rule directly.
    val t = tmpDir("cand_t")
    spark.range(0, 100)
      .select(col("id").as("k"), col("id").cast("string").as("v"))
      .repartitionByRange(4, col("k"))
      .write.mode("overwrite").parquet(t)
    Maintenance.writeSkipIndex(spark, t, Seq("k"))
    val idx = spark.read.parquet(s"$t/_skipindex")
      .select(col("file"), col("min_k"), col("max_k"))
      .collect().toIndexedSeq
    for (key <- Seq(0L, 13L, 25L, 50L, 99L, 1000L)) {
      val viaRule = Maintenance.candidateFiles(idx, key)
      val (rows, opened, total) = lookup(t, key)
      assert(total == idx.length.toLong)
      assert(opened == viaRule.length.toLong,
        s"key $key: rule selected ${viaRule.length}, lookup opened $opened")
      assert(rows.size == (if (key <= 99L) 1 else 0))
      assert(scanFiles(t, key) == viaRule,
        s"key $key: the over-cap scan must open the rule's files")
    }
    val withNull = idx :+ org.apache.spark.sql.Row("fX", null, null)
    assert(Maintenance.candidateFiles(withNull, 7L).contains("fX"),
      "null stats cannot prune — the file must stay a candidate")
  }

  test("skipIndexRows reads the sidecar on the driver: the rows a Spark " +
    "read returns, null stats included") {
    val t = tmpDir("sir_t")
    Seq((1L, "a"), (2L, "b")).toDF("k", "v").coalesce(1)
      .write.mode("append").parquet(t)
    Seq((10L, "c")).toDF("k", "v").coalesce(1)
      .write.mode("append").parquet(t)
    // an all-null-key file: its footer has no bounds for k
    Seq[(java.lang.Long, String)]((null, "n")).toDF("k", "v").coalesce(1)
      .write.mode("append").parquet(t)
    assert(Maintenance.writeSkipIndex(spark, t, Seq("k")) == 3L)
    val viaSpark = spark.read.parquet(s"$t/_skipindex")
      .select("file", "min_k", "max_k").collect().toSet
    val viaDriver = Maintenance.skipIndexRows(spark, t, "k")
      .getOrElse(fail("a bigint index must be read")).toSet
    assert(viaDriver == viaSpark)
    assert(viaDriver.exists(r => r.isNullAt(1) && r.isNullAt(2)),
      s"expected the null-stats row: $viaDriver")
    // no sidecar, and a torn one (the directory without a part file):
    // nothing to read, so the caller scans
    assert(Maintenance.skipIndexRows(spark, tmpDir("sir_none"), "k").isEmpty)
    val torn = tmpDir("sir_torn")
    Seq((1L, "a")).toDF("k", "v").write.mode("overwrite").parquet(torn)
    new java.io.File(s"$torn/_skipindex").mkdirs()
    assert(Maintenance.skipIndexRows(spark, torn, "k").isEmpty)
  }

  /** `f`'s rows as (key, value) pairs, null keys as None. */
  private def kv(rows: Seq[org.apache.spark.sql.catalyst.InternalRow])
      : Seq[(Option[Long], String)] =
    rows.map(r => (Option.when(!r.isNullAt(0))(r.getLong(0)),
      r.getUTF8String(1).toString))

  test("pointLookup decodes only the row groups whose key statistics " +
    "admit the probe") {
    val t = tmpDir("pl_groups")
    // one file of ~100-row groups over sorted even keys
    spark.range(0, 1000).select((col("id") * 2).as("k"),
        concat(lit("v"), col("id") * 2).as("v"))
      .coalesce(1).write.mode("overwrite")
      .option("parquet.block.size", "1").parquet(t)
    Maintenance.writeSkipIndex(spark, t, Seq("k"))
    val schema = Maintenance.dataSchema(spark, t)
    val file = Maintenance.listDataFiles(spark, t).head
    val nGroups = Maintenance.withParquet(spark.sparkContext.hadoopConfiguration,
      new org.apache.hadoop.fs.Path(file))(_.getRowGroups.size)
    assert(nGroups > 2, s"expected several row groups, got $nGroups")
    def look(k: Long) = Maintenance.pointLookup(spark, t, filesOf(t), "k", k,
      schema, Maintenance.PointLookupMaxBytes).toOption.get
    val hit = look(1110L)
    assert(kv(hit.rows) == Seq((Some(1110L), "v1110")))
    assert(hit.opened == 1L && hit.total == 1L && hit.groupsRead == 1,
      s"decoded ${hit.groupsRead} of $nGroups row groups")
    // a key inside one group's range but absent: that group is read
    val gap = look(555L)
    assert(gap.rows.isEmpty && gap.opened == 1L && gap.groupsRead == 1)
    // a key outside the file's range opens nothing
    val out = look(5000L)
    assert(out.rows.isEmpty && out.opened == 0L && out.groupsRead == 0)
  }

  test("pointLookup reads a chunk without statistics, reads nothing for " +
    "no candidates, and declines over its byte cap") {
    val t = tmpDir("pl_nostats")
    Seq((1L, "a"), (2L, "b")).toDF("k", "v").coalesce(1)
      .write.mode("append").parquet(t)
    Seq((10L, "c"), (11L, "d")).toDF("k", "v").coalesce(1)
      .write.mode("append").parquet(t)
    // a file whose key chunk carries no statistics: never pruned
    Seq[(java.lang.Long, String)]((null, "n"), (20L, "e")).toDF("k", "v")
      .coalesce(1).write.mode("append")
      .option("parquet.column.statistics.enabled", "false").parquet(t)
    assert(Maintenance.writeSkipIndex(spark, t, Seq("k")) == 3L)
    val schema = Maintenance.dataSchema(spark, t)
    def look(k: Long, cap: Long = Maintenance.PointLookupMaxBytes) =
      Maintenance.pointLookup(spark, t, filesOf(t), "k", k, schema, cap)
    val viaNoStats = look(20L).toOption.get
    assert(kv(viaNoStats.rows) == Seq((Some(20L), "e")) &&
      viaNoStats.opened == 1L && viaNoStats.groupsRead == 1)
    val hit = look(10L).toOption.get
    assert(kv(hit.rows) == Seq((Some(10L), "c")) && hit.opened == 2L &&
      hit.total == 3L && hit.groupsRead == 2)
    // no candidate but the unprunable file; with that file's
    // statistics present, a key outside every range opens nothing
    val t2 = tmpDir("pl_none")
    Seq((1L, "a"), (2L, "b")).toDF("k", "v").coalesce(1)
      .write.mode("overwrite").parquet(t2)
    Maintenance.writeSkipIndex(spark, t2, Seq("k"))
    val none = Maintenance.pointLookup(spark, t2, filesOf(t2), "k", 99L,
      Maintenance.dataSchema(spark, t2), Maintenance.PointLookupMaxBytes)
      .toOption.get
    assert(none.rows.isEmpty && none.opened == 0L && none.groupsRead == 0)
    // a cap below the candidates' bytes declines to the candidates; a
    // Spark scan of them answers with the rows the driver read under
    // the full cap
    val opened = look(10L, cap = 10L).left.getOrElse(fail("must decline"))
    assert(opened.length.toLong == hit.opened &&
      scanRows(t, opened, 10L) == kv(hit.rows))
    // a torn sidecar, a non-bigint key, an unknown key: no driver
    // read, and the scan opens every data file
    new java.io.File(s"$t/_skipindex").listFiles()
      .foreach(_.delete())
    assert(look(10L) == Left(filesOf(t)), "torn index")
    val t3 = tmpDir("pl_intkey")
    Seq((1, "a")).toDF("k", "v").write.mode("overwrite").parquet(t3)
    assert(Maintenance.pointLookup(spark, t3, filesOf(t3), "k", 1L,
      Maintenance.dataSchema(spark, t3), Maintenance.PointLookupMaxBytes) ==
      Left(filesOf(t3)))
    assert(Maintenance.pointLookup(spark, t2, filesOf(t2), "nope", 1L,
      Maintenance.dataSchema(spark, t2), Maintenance.PointLookupMaxBytes) ==
      Left(filesOf(t2)))
  }

  test("skip index over a non-bigint key: the reader declines, so the " +
    "lookup falls back instead of failing on the stats type") {
    val t = tmpDir("nbk_t")
    (0 until 40).map(i => (i, s"s$i", i.toLong)).toDF("i", "s", "l")
      .repartitionByRange(4, col("i"))
      .write.mode("overwrite").parquet(t)
    Maintenance.writeSkipIndex(spark, t, Seq("i", "s", "l"))
    assert(Maintenance.skipIndexRows(spark, t, "i").isEmpty, "int key")
    assert(Maintenance.skipIndexRows(spark, t, "s").isEmpty, "string key")
    assert(Maintenance.skipIndexRows(spark, t, "nope").isEmpty)
    assert(Maintenance.skipIndexRows(spark, t, "l").map(_.size)
      .contains(4), "the bigint column of the same index is covered")
    // the lookup declines to the plain scan of every data file, with
    // no exception; the bigint column of the same index is served
    val schema = Maintenance.dataSchema(spark, t)
    def look(key: String) = Maintenance.pointLookup(spark, t, filesOf(t),
      key, 7L, schema, Maintenance.PointLookupMaxBytes)
    assert(filesOf(t).size == 4 && look("i") == Left(filesOf(t)), "int key")
    assert(look("l").toOption.exists(_.rows.size == 1))
  }

  test("footerSchema declares the schema Spark infers: upsert snapshot " +
    "and the q290 table") {
    import graft.streaming.UpsertStream
    val root = tmpDir("fs_upsert")
    assert(UpsertStream.drainUpsertWaves(spark,
      UpsertStream.stageUpsertWaves(spark, sf0001), root,
      tmpDir("fs_upsert_ck")) == UpsertStream.Waves)
    val q290 = new org.apache.hadoop.fs.Path(
      Maintenance.pointLookupQuery(spark, sf0001).inputFiles.head)
      .getParent.toString
    for (dir <- Seq(s"$root/v2", q290)) {
      val f = Maintenance.listDataFiles(spark, dir).head
      assert(spark.read.schema(Maintenance.footerSchema(spark, f))
        .parquet(dir).schema == spark.read.parquet(dir).schema, dir)
    }
    // no data file: Spark's own inference error, as a schema-less read
    val empty = tmpDir("fs_empty")
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      Maintenance.dataSchema(spark, empty)
    }
    assert(e.getMessage.contains("UNABLE_TO_INFER_SCHEMA"), e.getMessage)
  }

  test("withParquet takes its read options from the conf it is handed") {
    import org.apache.parquet.filter2.predicate.FilterApi
    import org.apache.parquet.hadoop.ParquetInputFormat
    val t = tmpDir("wp_t")
    spark.range(0, 100).select(col("id").as("k")).coalesce(1)
      .write.mode("overwrite").parquet(t)
    val f = new org.apache.hadoop.fs.Path(Maintenance.listDataFiles(spark, t).head)
    def rowGroups(conf: org.apache.hadoop.conf.Configuration): Int =
      Maintenance.withParquet(conf, f)(_.getRowGroups.size)
    // a record filter the file's stats exclude, set only on a COPY of
    // the session conf: the opener's reader drops the row group, which
    // a reader over a default Configuration would never see
    val session = spark.sparkContext.hadoopConfiguration
    val copy = new org.apache.hadoop.conf.Configuration(session)
    ParquetInputFormat.setFilterPredicate(copy,
      FilterApi.eq(FilterApi.longColumn("k"), java.lang.Long.valueOf(1000L)))
    assert(rowGroups(session) == 1)
    assert(rowGroups(copy) == 0, "the copy's stats filter drops the row group")
    copy.setBoolean(ParquetInputFormat.STATS_FILTERING_ENABLED, false)
    assert(rowGroups(copy) == 1, "the copy's parquet.filter.stats.enabled=false keeps it")
    assert(session.get(ParquetInputFormat.STATS_FILTERING_ENABLED) == null)
  }

  test("refreshSkipIndex: copied stats inherited, rewritten files re-read, gaps degrade to reads") {
    val v0 = tmpDir("rsi_v0"); val v1 = tmpDir("rsi_v1")
    val v2 = tmpDir("rsi_v2")
    (0L until 800L).map(i => (i, s"t$i")).toDF("k", "v")
      .repartitionByRange(8, col("k"))
      .write.mode("overwrite").parquet(v0)
    val n0 = Maintenance.writeSkipIndex(spark, v0, Seq("k"))
    assert(n0 == 8L)
    // merge touching only the head range -> most files byte-copy
    val up = spark.read.parquet(v0).filter(col("k") <= 40)
      .withColumn("v", upper(col("v"))).localCheckpoint()
    Maintenance.copyOnWriteMerge(spark, v0, v1, up, "k")
    val (inh, rr) = Maintenance.refreshSkipIndex(spark, v0, v1, Seq("k"))
    assert(inh >= 6L && rr >= 1L,
      s"expected mostly-inherited refresh, got inherited=$inh reRead=$rr")
    // refresh == rebuild row-for-row (full paths as keys; null-safe —
    // min/max are legitimately null for a no-statistics file)
    val refreshed = spark.read.parquet(s"$v1/_skipindex").localCheckpoint()
    Maintenance.writeSkipIndex(spark, v1, Seq("k"))
    val rebuilt = spark.read.parquet(s"$v1/_skipindex")
    assert(graft.FrameCheck.disagreementsNullSafe(refreshed, rebuilt,
      Seq("file"), Seq("min_k", "max_k", "n_rows")) == 0L)
    // a column-set change refuses (rebuild, don't inherit mismatched rows)
    intercept[IllegalArgumentException] {
      Maintenance.refreshSkipIndex(spark, v0, v1, Seq("k", "v"))
    }
    // a copied file the old index never covered degrades to a footer
    // read, never a gap: drop one file's row from v0's index and
    // refresh a fresh merge — all files still land in the new index
    val idx0 = spark.read.parquet(s"$v0/_skipindex").localCheckpoint()
    val dropped = idx0.orderBy("file").limit(1)
      .collect().head.getString(0)
    idx0.filter(col("file") =!= dropped).coalesce(1)
      .write.mode("overwrite").parquet(s"$v0/_skipindex")
    Maintenance.copyOnWriteMerge(spark, v0, v2, up, "k")
    val (inh2, rr2) = Maintenance.refreshSkipIndex(spark, v0, v2, Seq("k"))
    assert(inh2 == inh - 1 || inh2 == inh,
      s"dropping one old row shifts at most one inherit: $inh -> $inh2")
    assert(rr2 >= rr, "the uncovered copy must be footer-read")
    // the REFRESHED index (captured before the rebuild overwrites it)
    // must still cover every file — the uncovered copy landed via a
    // footer read, never as a gap
    val refreshed2 = spark.read.parquet(s"$v2/_skipindex")
      .localCheckpoint()
    Maintenance.writeSkipIndex(spark, v2, Seq("k"))
    val rebuilt2 = spark.read.parquet(s"$v2/_skipindex")
    assert(graft.FrameCheck.disagreementsNullSafe(refreshed2, rebuilt2,
      Seq("file"), Seq("min_k", "max_k", "n_rows")) == 0L,
      "a coverage gap in the old index must not leave a gap in the " +
        "refreshed one")
    // and an oldDir with NO index at all degrades to all-footer-read
    val v3 = tmpDir("rsi_v3")
    fs_delete_index(v0)
    Maintenance.copyOnWriteMerge(spark, v0, v3, up, "k")
    val (inh3, rr3) = Maintenance.refreshSkipIndex(spark, v0, v3, Seq("k"))
    assert(inh3 == 0L && rr3 > 0L,
      s"never-indexed oldDir: inherited=$inh3 reRead=$rr3")
    val refreshed3 = spark.read.parquet(s"$v3/_skipindex")
      .localCheckpoint()
    Maintenance.writeSkipIndex(spark, v3, Seq("k"))
    assert(graft.FrameCheck.disagreementsNullSafe(refreshed3,
      spark.read.parquet(s"$v3/_skipindex"), Seq("file"),
      Seq("min_k", "max_k", "n_rows")) == 0L,
      "all-footer-read refresh must equal the rebuild")
    ()
  }

  private def fs_delete_index(dir: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/_skipindex")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(p, true)
    ()
  }
}
