package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** The multi-statement query bodies `SparkEntry.specs` registers:
  * queries that compose several operators (the dup-cluster family, the
  * dedup method comparisons, the as-of and range joins) or round-trip a
  * table through a sink and read it back (parquet, JSON, TSV, CSV, ZIP,
  * ORC, XML, schema evolution). A query that is one operator call is
  * registered on that operator directly, not here. */
object Extensions {

  /** Multimodal batch-decode plumbing (mapPartitions + stub codec):
    * per-doc decoded dimensions. */
  def q37MultimodalDecode(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    Multimodal.decodeFeatures(s, d).toDF()
      .select(col("doc_id"), col("n_bytes"), col("width"), col("height"))
      .orderBy("doc_id")
  }

  /** q41: as-of join over the event stream — each click attached to
    * the user's most recent purchase at-or-before it (backward
    * inclusive), null when none precedes. Purchases pre-deduped to
    * one row per (user, ts) for determinism. DuckDB's native ASOF
    * JOIN is the oracle, so the composed window formulation is
    * checked against a reference implementation of the operator. */
  def q41AsOfJoin(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(s, d)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id"), col("ts"))
    val dedup = Window.partitionBy("user_id", "ts")
      .orderBy(col("event_id").desc)
    val purchases = ev.filter(col("event_type") === "purchase")
      .withColumn("rn", row_number().over(dedup)).filter(col("rn") === 1)
      .select(col("user_id"), col("ts"), col("value"))
    AsOfJoin.asOfJoin(clicks, purchases, "user_id", "ts",
      attach = Seq("value", "ts"))
      .select(col("user_id"), col("event_id"),
        unix_millis(col("ts")).as("ts_ms"),
        col("asof_value").as("last_purchase_value"),
        unix_millis(col("asof_ts")).as("purchase_ts_ms"))
      .orderBy("user_id", "event_id")
  }

  /** q42: bucketed range join over the event stream — every click
    * within ±10min of an error by the same user (bucket width 20min, so
    * each window spans ≤ 2 buckets). Times compare as integer epoch
    * millis on both engines, so the plain theta-join SQL is an exact
    * oracle for the bucketed formulation. */
  def q42RangeJoin(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"),
        unix_millis(col("ts")).as("t"))
    val errors = ev.filter(col("event_type") === "error")
      .select(col("user_id"), col("event_id").as("err_id"),
        (unix_millis(col("ts")) - 600000L).as("w_start"),
        (unix_millis(col("ts")) + 600000L).as("w_end"))
    JoinStrategies.rangeJoin(clicks, errors, "user_id", "t",
      "w_start", "w_end", bucketWidth = 1200000L)
      .select(col("user_id"), col("click_id"), col("err_id"),
        (col("t") - col("w_start") - 600000L).as("delta_ms"))
      .orderBy("user_id", "click_id", "err_id")
  }

  /** q65: incremental dedup — today's batch (20% of docs by id) probes
    * the existing corpus's MinHash band index; portable-hash config so
    * the oracle recomputes every signature. */
  def q65IncrementalDedup(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    Dedup.incrementalDedup(
      docs.filter(col("doc_id") % 5 === 4),
      docs.filter(col("doc_id") % 5 =!= 4),
      n = 3, numHashes = 64, bands = 16, threshold = 0.5, portable = true)
  }

  /** The q45/q161 clustering input — ONE definition of the pair
    * generation parameters, mirroring the shared oracle CTE prefix,
    * so the two cluster reports cannot drift on the clustering. */
  private[graft] def dupPairs(docs: DataFrame): DataFrame =
    Dedup.ngramJaccardPairs(docs, n = 3, threshold = 0.6,
      maxDocFreq = 50).select("d1", "d2")

  /** q45: dup-cluster connected components — q23's near-dup pairs
    * collapsed into transitive-closure clusters (alternating large-star/
    * small-star edge rewriting), every doc labeled with cluster id, size, and
    * the canonical-survivor flag. The oracle recomputes the closure
    * with a recursive CTE. */
  def q45DupClusters(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    DupClusters.clusterReport(docs, dupPairs(docs))
  }

  /** q208: INCREMENTAL cluster assignment — the nightly-load answer
    * to q45: yesterday's clusters are a stored table; today's batch
    * (doc_id ≡ 4 mod 5, the q65 split) must join them WITHOUT
    * re-clustering the corpus. Each new doc takes the MIN cluster
    * label over its near-dup matches into the old corpus (same q23
    * pair semantics), unmatched docs open singleton clusters. A new
    * doc bridging two old clusters keeps the min label and the merge
    * is deferred to the next full compaction (the standard
    * incremental-CC approximation — re-labeling the old table would
    * be the full recompute this query exists to avoid). Output per
    * new doc: assigned cluster, match count.
    *
    * Scale shape: old labels are the stored metadata-scale table;
    * the only corpus-sized work is the straddling pair generation
    * (the capped q23 index over old ∪ new — in production the OLD
    * side's shingle postings are also a stored index the new batch
    * probes, the q65 shape). */
  def q208IncrementalClusters(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val isNew = col("doc_id") % 5 === 4
    val oldDocs = docs.filter(!isNew)
    val oldLabels = DupClusters.connectedComponents(dupPairs(oldDocs))
    val oldLabeled = oldDocs.select(col("doc_id").as("old_id"))
      .join(oldLabels, col("old_id") === col("node"), "left")
      .select(col("old_id"),
        coalesce(col("cluster_id"), col("old_id")).as("cluster_id"))
    // near-dup pairs over the whole corpus, kept only where they
    // straddle the batch boundary (new ↔ old)
    val straddle = dupPairs(docs)
      .filter((col("d1") % 5 === 4) =!= (col("d2") % 5 === 4))
      .select(
        when(col("d1") % 5 === 4, col("d1")).otherwise(col("d2"))
          .as("new_id"),
        when(col("d1") % 5 === 4, col("d2")).otherwise(col("d1"))
          .as("old_id"))
    val assigned = straddle.join(oldLabeled, Seq("old_id"))
      .groupBy("new_id")
      .agg(min(col("cluster_id")).as("cid"),
        count(lit(1)).as("n_matches"))
    docs.filter(isNew).select(col("doc_id"))
      .join(assigned, col("doc_id") === col("new_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cid"), col("doc_id")).as("cluster_id"),
        coalesce(col("n_matches"), lit(0L)).cast("long").as("n_matches"))
      .orderBy("doc_id")
  }

  /** q161: the q45 clusters with the survivor chosen by quality
    * (longest text, ties to lowest id) — the keep-rule a production
    * dedup actually applies. */
  def q161ClusterBest(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    DupClusters.clusterBestReport(docs, dupPairs(docs))
  }

  /** q170: the parquet SINK itself under oracle check (S7 sink + S13
    * partition discovery, previously unit-only): lineitem written
    * partitioned by `l_returnflag` to scratch, read back through
    * partition discovery, aggregated per partition. Matching DuckDB's
    * aggregate over the ORIGINAL parquet proves the round-trip loses
    * nothing — row multiplicity, value fidelity, and the partition
    * column's restoration from directory names. The scratch dir is
    * ledger-registered; the bench/verify loops sweep it between
    * queries. */
  def q170SinkRoundtrip(s: SparkSession, d: String): DataFrame = {
    val out = graft.sources.Scratch.dirOutliving(s, "q170_sink")
    Tables.lineitem(s, d)
      .write.mode("overwrite").partitionBy("l_returnflag").parquet(out)
    q170ReadBack(s, out)
  }

  /** The columns [[q170ReadBack]] references — a plan-audit stub needs
    * only these (column pruning means the real scan reads no more). */
  val q170SinkSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("l_returnflag", StringType),
      StructField("l_extendedprice", DoubleType)))
  }

  /** q170's post-write read-back — the per-partition aggregate over
    * the partition-discovered sink. */
  def q170ReadBack(s: SparkSession, out: String): DataFrame =
    s.read.parquet(out)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).cast("long").as("n"),
        OlapOps.decSumCents(col("l_extendedprice")).as("total_cents"))
      .orderBy("l_returnflag")

  /** q247: the ORC sink + predicate-pushdown read-back under oracle
    * check — the second columnar format a 100 TB estate actually
    * contains next to parquet (q170's round-trip discipline applied
    * to the other on-disk layout). The read-back FILTERS on
    * `l_quantity`, which the ORC reader serves from stripe/row-group
    * statistics — OrcSinkSpec pins `PushedFilters` in the scan — so
    * equality against DuckDB's aggregate over the ORIGINAL parquet
    * certifies type round-trip (longs, doubles, strings, date-ints)
    * AND that the pushed predicate selects exactly the right rows. */
  def q247OrcRoundtrip(s: SparkSession, d: String): DataFrame = {
    val out = graft.sources.Scratch.dirOutliving(s, "q247_orc")
    Tables.lineitem(s, d)
      .write.mode("overwrite").orc(out)
    s.read.orc(out)
      .filter(col("l_quantity") >= 25.0)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(col("l_orderkey")).cast("long").as("key_sum"),
        OlapOps.decSumCents(col("l_extendedprice")).as("total_cents"))
      .orderBy("l_returnflag")
  }

  /** q249: the XML sink + schema'd load under oracle check — Spark 4
    * folded the spark-xml datasource into core, making XML the last
    * mainstream built-in format the repo had not exercised (parquet
    * q170, JSON q171, TSV q175, CSV q198, ZIP q180, ORC q247). The
    * documents table round-trips through XML element escaping
    * (&lt;/&amp;/newlines in text content), so matching DuckDB's
    * per-language `sum(length(text))` over the ORIGINAL parquet
    * proves content fidelity through the XML writer/parser pair, not
    * just row counts — q171's discipline on the markup format. */
  def q249XmlRoundtrip(s: SparkSession, d: String): DataFrame = {
    val out = graft.sources.Scratch.dirOutliving(s, "q249_xml")
    val docs = Tables.documents(s, d)
    docs.write.mode("overwrite").option("rowTag", "doc")
      .format("xml").save(out)
    // ignoreSurroundingSpaces defaults to TRUE and would trim
    // whitespace-edged text on read-back — a silent fidelity loss the
    // oracle (which aggregates the ORIGINAL text) would catch only on
    // a corpus that has such docs; pin the lossless behavior instead
    s.read.schema(docs.schema).option("rowTag", "doc")
      .option("ignoreSurroundingSpaces", "false")
      .format("xml").load(out)
      .groupBy(col("lang"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(length(col("text"))).cast("long").as("text_len"),
        sum(col("n_chars")).cast("long").as("chars"))
      .orderBy("lang")
  }

  /** q171: the JSON doc sink + schema'd load under oracle check
    * (S9/S10, previously unit-only): documents written as JSON lines,
    * read back with the declared schema, aggregated per language. The
    * text round-trips through JSON string escaping, so matching
    * DuckDB's per-language `sum(length(text))` over the ORIGINAL
    * parquet proves content fidelity, not just row counts. */
  def q171JsonRoundtrip(s: SparkSession, d: String): DataFrame = {
    val out = graft.sources.Scratch.dirOutliving(s, "q171_json")
    val docs = Tables.documents(s, d)
    docs.write.mode("overwrite").json(out)
    s.read.schema(docs.schema).json(out)
      .groupBy(col("lang"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(length(col("text"))).cast("long").as("text_len"),
        sum(col("n_chars")).cast("long").as("chars"))
      .orderBy("lang")
  }

  /** q175: the TSV SCANNER itself under oracle check (S3 headered TSV
    * scan + S6/S8 by-name typed load, previously unit-only): lineitem
    * measures written as headered TSV text, read back through the SAME
    * `SecIngest.readTsv` → `typed` path every quarter ingest uses —
    * with the declared schema's columns deliberately reordered and
    * re-cased versus the file header, so the by-name case-insensitive
    * mapping is load-bearing, not decorative. Doubles round-trip
    * exactly (Spark's CSV writer emits the shortest representation
    * that parses back to the same IEEE value), so matching DuckDB's
    * decimal aggregate over the ORIGINAL parquet certifies text
    * serialization, header mapping, and permissive casts end to end. */
  def q175TsvRoundtrip(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types._
    val out = graft.sources.Scratch.dirOutliving(s, "q175_tsv")
    Tables.lineitem(s, d)
      .select("l_orderkey", "l_quantity", "l_extendedprice", "l_returnflag")
      .write.mode("overwrite").option("sep", "\t").option("header", "true")
      .csv(out)
    // Declared schema: different order and case than the written
    // header — `typed` must match by lowercased name.
    val declared = StructType(Seq(
      StructField("L_RETURNFLAG", StringType),
      StructField("L_EXTENDEDPRICE", DoubleType),
      StructField("L_QUANTITY", DoubleType),
      StructField("L_ORDERKEY", LongType)))
    graft.sources.SecIngest.typed(
        graft.sources.SecIngest.readTsv(s, out), declared)
      .groupBy(col("L_RETURNFLAG").as("l_returnflag"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(col("L_ORDERKEY")).cast("long").as("key_sum"),
        OlapOps.decSumCents(col("L_QUANTITY")).as("qty_cents"),
        OlapOps.decSumCents(col("L_EXTENDEDPRICE")).as("price_cents"))
      .orderBy("l_returnflag")
  }

  /** q198: the QUOTED-CSV scanner under oracle check — the CSV
    * dialect path the TSV scanner (q175) never exercises: embedded
    * delimiters, double quotes, and NEWLINES inside fields. The
    * corpus text carries none of those, so the payload column
    * deterministically injects all three (`text || ',"\n|' || source`
    * — recomputed verbatim by the oracle from the original table),
    * gets written fully quoted, and is read back through the
    * multiLine+escape scanner. Per-lang row counts, id sums, payload
    * lengths, and a payload hash-sum must equal the ORIGINAL table's
    * — any mis-split row, truncated field, or quote corruption breaks
    * at least one of them. */
  def q198CsvRoundtrip(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types._
    val out = graft.sources.Scratch.dirOutliving(s, "q198_csv")
    Tables.documents(s, d)
      .select(col("doc_id"), col("lang"),
        concat(col("text"), lit(",\"\n|"), col("source")).as("payload"))
      .write.mode("overwrite")
      .option("header", "true").option("quoteAll", "true")
      .option("escape", "\"")
      .csv(out)
    val declared = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("lang", StringType),
      StructField("payload", StringType)))
    s.read.option("header", "true").option("multiLine", "true")
      .option("escape", "\"").schema(declared).csv(out)
      .groupBy("lang")
      .agg(count(lit(1)).cast("long").as("n"),
        sum(col("doc_id")).cast("long").as("id_sum"),
        sum(length(col("payload"))).cast("long").as("len_sum"),
        sum(pmod(graft.functions.TextFunctions.portableHash60(
          col("payload")), lit(2147483647L))).cast("long").as("hash_sum"))
      .orderBy("lang")
  }

  /** q209: dedup METHOD COMPARISON — the evaluation table a curation
    * team consults when choosing a blocking family: for each of the
    * three pair-generation methods the engine ships (exact content
    * groups, the capped shingle inverted index of q23, the
    * sorted-neighborhood window of q202), the pair yield and the
    * distinct documents covered, side by side on the same corpus.
    * Each method's machinery is individually oracle-proven; this
    * composes their summaries so the TRADE-OFF itself is a checked
    * artifact (exact finds only identical twins; the index finds
    * everything above the Jaccard floor at higher cost; the sorted
    * window finds the collated subset at linear cost). */
  def q209DedupMethodCompare(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val exact = docs.groupBy(md5(col("text")).as("f"))
      .agg(count(lit(1)).as("g")).filter(col("g") > 1)
      .agg(coalesce(expr("sum(g * (g - 1) div 2)"), lit(0L))
          .cast("long").as("n_pairs"),
        coalesce(sum(col("g")), lit(0L)).cast("long").as("n_docs"))
      .select(lit("exact").as("method"), col("n_pairs"), col("n_docs"))
    def pairStats(p: DataFrame, name: String) = {
      // both summaries read the materialized pair set; the crossJoin
      // attaches two single-row frames (never data)
      val np = p.agg(count(lit(1)).cast("long").as("n_pairs"))
      val nd = p.select(explode(array(col("d1"), col("d2"))).as("u"))
        .agg(count_distinct(col("u")).cast("long").as("n_docs"))
      np.crossJoin(nd).select(lit(name).as("method"),
        col("n_pairs"), col("n_docs"))
    }
    // the two pair chains are independent — materialized concurrently
    // ([[overlapped]]); round 18 ran them serially
    val Seq(jp, sp) = overlapped(Seq(
      () => dupPairs(docs).select(col("d1"), col("d2")).localCheckpoint(),
      () => Dedup.sortedNeighborhoodPairs(docs)
        .select(col("d1"), col("d2")).localCheckpoint()))
    exact
      .unionByName(pairStats(jp, "jaccard_index"))
      .unionByName(pairStats(sp, "sorted_neighborhood"))
      .orderBy("method")
  }

  /** Build + materialize several INDEPENDENT frames concurrently
    * (guide §2.6 "overlap independent jobs"): the comparison/union
    * queries compose 2–4 pair-generation chains that share no state,
    * yet each chain's construction runs eager internal checkpoints —
    * serially, one chain's straggler tail leaving the cluster idle.
    * Submitting them from a small thread pool lets the next chain's
    * tasks back-fill freed cores (scheduler FIFO gives exactly the
    * back-fill behaviour); results are deterministic frames, so
    * composition order — and every query's output — is unchanged.
    * Exceptions propagate to the caller via Await. */
  private def overlapped[T](thunks: Seq[() => T]): Seq[T] = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val pool = java.util.concurrent.Executors
      .newFixedThreadPool(thunks.size)
    implicit val ec: ExecutionContext =
      ExecutionContext.fromExecutorService(pool)
    try Await.result(
      Future.sequence(thunks.map(t => Future(t()))), Duration.Inf)
    finally pool.shutdown()
  }

  /** q224's blocking-family agreement matrix over any
    * (doc_id, lang, text) frame: pair-set sizes, intersection and
    * pair-set Jaccard for each pair of the three near-dup methods. */
  def dedupAgreement(docs: DataFrame): DataFrame = {
    // the three chains are independent — built and checkpointed
    // concurrently ([[overlapped]]); round 18 ran them serially
    val names = Seq("jaccard_index", "minhash_lsh", "sorted_neighborhood")
    val sets: Seq[(String, DataFrame)] = names.zip(overlapped(Seq(
      () => dupPairs(docs).localCheckpoint(),
      () => Dedup.minHashLshPairs(docs,
        n = 3, numHashes = 64, bands = 16, threshold = 0.5,
        portable = true).select("d1", "d2").localCheckpoint(),
      () => Dedup.sortedNeighborhoodPairs(docs)
        .select("d1", "d2").localCheckpoint())))
    val rows = for {
      i <- sets.indices
      j <- sets.indices if i < j
    } yield {
      val (na, a) = sets(i)
      val (nb, b) = sets(j)
      val ca = a.agg(count(lit(1)).cast("long").as("n_a"))
      val cb = b.agg(count(lit(1)).cast("long").as("n_b"))
      val cc = a.join(b, Seq("d1", "d2"), "left_semi")
        .agg(count(lit(1)).cast("long").as("n_common"))
      ca.crossJoin(cb).crossJoin(cc)
        .select(lit(na).as("method_a"), lit(nb).as("method_b"),
          col("n_a"), col("n_b"), col("n_common"),
          expr("n_common * 1000000 div greatest(n_a + n_b - n_common, 1)")
            .cast("long").as("agreement_e6"))
    }
    rows.reduce(_ unionByName _).orderBy("method_a", "method_b")
  }

  /** q232: UNION-DEDUP keeper map — the decision q224's agreement
    * matrix motivates, executed: when the blocking families find
    * genuinely different duplicates (low pairwise agreement), a
    * curation pipeline should union them; this materializes that
    * union — exact content groups + the capped shingle index (q23) +
    * the sorted-neighborhood window (q202) + the lossless prefix
    * join (q225) — runs connected components over the combined edge
    * set, and assigns every document its canonical keeper. The
    * per-document verdict a dedup stage actually applies.
    *
    * Scale shape: each pair chain is its proven linear/blocked form;
    * the union is a distinct over pair-sized frames; the components
    * run the q45 large-star/small-star alternation, SEEDED by
    * exact-group pre-collapse: the md5 groups are already star-shaped
    * (member→min edges), so every OTHER family's pair endpoints are
    * rewritten through their exact-group representative before the
    * union. Chains that threaded through exact members vanish, the
    * edge table shrinks, and the alternation converges in fewer
    * rounds; connectivity and labels are unchanged because the
    * member→rep star edges stay in the graph and each group's rep IS
    * its min id. The rewrite joins against the MEMBERS-ONLY map
    * (docs with a strictly smaller exact twin — dup-sized, not
    * corpus-sized), so the seeding never shuffles the corpus. */
  def q232UnionDedup(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, d)
    // The four frames below (exact-rep map + three family pair
    // chains) are independent — built and materialized concurrently
    // ([[overlapped]]); round 18 ran the four chains' eager internal
    // checkpoints strictly serially, leaving the cluster idle in each
    // chain's stage tails.
    val Seq(exactReps, jacP, snP, ppP) = overlapped(Seq(
      // doc -> exact-group min, members only (rep rows filtered out);
      // read six times (3 families x 2 endpoints) + the star edges
      () => docs.select(col("doc_id"), md5(col("text")).as("f"))
        .withColumn("mn",
          min(col("doc_id")).over(Window.partitionBy("f")))
        .filter(col("doc_id") =!= col("mn"))
        .select(col("doc_id"), col("mn"))
        .localCheckpoint(),
      () => dupPairs(docs),
      () => Dedup.sortedNeighborhoodPairs(docs).select("d1", "d2"),
      () => Dedup.ppjoinPairs(docs).select("d1", "d2")))
    val exact = exactReps.select(col("mn").as("d1"), col("doc_id").as("d2"))
    def collapse(p: DataFrame): DataFrame = p
      .join(exactReps.select(col("doc_id").as("d1"), col("mn").as("m1")),
        Seq("d1"), "left")
      .join(exactReps.select(col("doc_id").as("d2"), col("mn").as("m2")),
        Seq("d2"), "left")
      .select(coalesce(col("m1"), col("d1")).as("d1"),
        coalesce(col("m2"), col("d2")).as("d2"))
      .filter(col("d1") =!= col("d2"))
    val allPairs = collapse(jacP)
      .unionByName(collapse(snP))
      .unionByName(collapse(ppP))
      .unionByName(exact)
      .distinct()
    DupClusters.clusterReport(docs, allPairs)
  }

  /** q178: SCHEMA EVOLUTION under oracle check — the ingestion
    * reality every long-lived 100 TB table faces: files written
    * before a column existed sit next to files written after.
    * Documents are split into two epochs (even doc_ids written
    * WITHOUT lang/source — the "old producer" files — odd ids with
    * the full schema), read back through one `mergeSchema` scan that
    * unions the file schemas and null-fills the late columns, then
    * aggregated with the nulls folded to a sentinel. Matching DuckDB
    * over the ORIGINAL table (replaying the epoch rule) certifies
    * that evolution loses no rows, no values, and nulls exactly the
    * pre-schema epoch. `with_source` counts non-null source rows —
    * the column that must be null for epoch-1 rows and populated for
    * epoch-2. */
  def q178EvolutionRoundtrip(s: SparkSession, d: String): DataFrame = {
    val out = graft.sources.Scratch.dirOutliving(s, "q178_evo")
    val docs = Tables.documents(s, d)
    docs.filter(col("doc_id") % 2 === 0)
      .select("doc_id", "text", "n_chars")
      .write.mode("overwrite").parquet(s"$out/epoch1")
    docs.filter(col("doc_id") % 2 === 1)
      .select("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$out/epoch2")
    s.read.option("mergeSchema", "true").parquet(s"$out/epoch1", s"$out/epoch2")
      .groupBy(coalesce(col("lang"), lit("pre_schema")).as("lang"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(col("n_chars")).cast("long").as("chars"),
        count(col("source")).cast("long").as("with_source"))
      .orderBy("lang")
  }

  /** q180: the ZIP EXTRACTION scanner under oracle check (S2,
    * previously unit-only) — completing the source-format round-trip
    * family (parquet q170, JSON q171, TSV q175, schema evolution
    * q178): lineitem measures written as headered TSV parts, each
    * part packaged as the `num.txt` entry of its own archive (the
    * reference's quarter-ZIP layout, zip_ext_and_parq_store.py), read
    * back through the SAME distributed `ZipIngest.readZipTsv` →
    * `SecIngest.typed` path the quarter ingest uses, and aggregated
    * against DuckDB over the ORIGINAL table. The zip packaging is
    * fixture plumbing (archives arrive from outside at scale — the
    * read path is the operator): each part file is STREAMED through a
    * ZipOutputStream on the driver, bounded by one IO buffer, never a
    * table in memory. */
  def q180ZipRoundtrip(s: SparkSession, d: String): DataFrame = {
    import org.apache.hadoop.fs.Path
    import org.apache.spark.sql.types._
    val out = graft.sources.Scratch.dirOutliving(s, "q180_zip")
    val cols = Seq("l_orderkey", "l_quantity", "l_extendedprice",
      "l_returnflag")
    Tables.lineitem(s, d).select(cols.map(col): _*)
      .write.mode("overwrite").option("sep", "\t").option("header", "true")
      .csv(s"$out/tsv")
    val fs = new Path(out).getFileSystem(s.sparkContext.hadoopConfiguration)
    val parts = fs.listStatus(new Path(s"$out/tsv"))
      .filter(_.getPath.getName.startsWith("part-"))
    parts.zipWithIndex.foreach { case (p, i) =>
      val zip = new java.util.zip.ZipOutputStream(
        fs.create(new Path(f"$out/zips/q$i%04d.zip"), true))
      try {
        zip.putNextEntry(new java.util.zip.ZipEntry("num.txt"))
        val in = fs.open(p.getPath)
        try {
          val buf = new Array[Byte](1 << 16)
          Iterator.continually(in.read(buf)).takeWhile(_ > 0)
            .foreach(zip.write(buf, 0, _))
        } finally in.close()
        zip.closeEntry()
      } finally zip.close()
    }
    val declared = StructType(cols.map {
      case "l_orderkey"   => StructField("l_orderkey", LongType)
      case "l_returnflag" => StructField("l_returnflag", StringType)
      case c              => StructField(c, DoubleType)
    })
    graft.sources.SecIngest.typed(
        graft.sources.ZipIngest.readZipTsv(s, s"$out/zips/*.zip",
          "num.txt", cols),
        declared)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(col("l_orderkey")).cast("long").as("key_sum"),
        OlapOps.decSumCents(col("l_quantity")).as("qty_cents"),
        OlapOps.decSumCents(col("l_extendedprice")).as("price_cents"))
      .orderBy("l_returnflag")
  }
}
