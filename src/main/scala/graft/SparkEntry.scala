package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType
import graft.operators._
import graft.quality.{DataQuality, ObservedMetrics}
import graft.sources.Tables
import graft.streaming._

/** One registered query.
  *
  * @param run      builds the query's frame from (session, table dir)
  * @param oracle   the DuckDB SQL computing the same relation over the
  *                 same parquet tables
  * @param readBack for a query whose `run` drains a stream or writes a
  *                 sink when invoked: the sink row schema and the pure
  *                 rollup over an already-sunk directory. The plan
  *                 audit (WindowAuditSpec) stages a footer-only stub
  *                 parquet of the schema and plans the read-back, so
  *                 every registered query's batch plan is audited
  *                 without re-running multi-batch drains.
  * @param fastHash the at-scale hash configuration of a sketch query
  *                 whose `run` uses oracle-portable hashing. `Bench`
  *                 times it beside the query so the portable-hash tax
  *                 stays measured. It has no oracle of its own; where
  *                 the two configurations must agree, DedupSimilaritySpec
  *                 / TextAnalysisSpec assert it.
  */
final case class QuerySpec(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: String,
    readBack: Option[(StructType, (SparkSession, String) => DataFrame)] = None,
    fastHash: Option[(SparkSession, String) => DataFrame] = None)

/** The query registry: [[SparkEntry.specs]] instantiates each operator
  * on the testdata tables (FIXTURES.md §B role mapping) next to its
  * DuckDB-equivalent SQL over the same parquet tables. Column names are
  * aliased identically on both sides (the hash compare sorts columns by
  * name before hashing). Aggregates over doubles are computed in
  * DECIMAL(38,10) on both sides so the hash cannot depend on summation
  * order.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Queries.q21FactBuild(spark, "/root/testdata/sf0.001")

  /** The one query registry: every registered query's frame function,
    * its DuckDB oracle SQL, and — where they exist — its post-drain
    * read-back and its at-scale hash variant. Adding a query is one
    * entry here. Lazy because the oracle helpers the entries reference
    * (`gatedDocsCtes`, `dupClusterCte`, …) are strict vals declared
    * further down, which a strict val here would capture as null. */
  lazy val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q01_pricing_summary", Queries.q01PricingSummary,
      """SELECT l_returnflag, l_linestatus,
         CAST(round(sum(CAST(l_quantity AS DECIMAL(38,10))), 2) * 100 AS BIGINT) AS sum_qty,
         CAST(round(sum(CAST(l_extendedprice AS DECIMAL(38,10))), 2) * 100 AS BIGINT) AS sum_base_price,
         CAST(round(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(38,10))), 2) * 100 AS BIGINT) AS sum_disc_price,
         CAST(count(*) AS BIGINT) AS count_order
         FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2"""),
    QuerySpec("q02_filter_project", Queries.q02FilterProject,
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice,
         strftime(l_shipdate, '%Y-%m-%d') AS ship_date
         FROM lineitem WHERE l_returnflag = 'R' AND l_quantity > 45
         ORDER BY l_orderkey, l_linenumber"""),
    QuerySpec("q03_serving_stmt", Queries.q03ServingStatementQuery,
      """SELECT o_orderkey, l_linenumber, c_name, c_mktsegment,
         strftime(o_orderdate, '%Y-%m-%d') AS order_date,
         l_quantity, l_extendedprice
         FROM orders JOIN customer ON o_custkey = c_custkey
         JOIN lineitem ON o_orderkey = l_orderkey
         WHERE o_orderstatus = 'F' AND l_returnflag = 'R'
         ORDER BY o_orderkey, l_linenumber"""),
    QuerySpec("q04_fanout_join", Queries.q04FanoutJoinAgg,
      """SELECT s_suppkey, s_name, CAST(count(*) AS BIGINT) AS n_items,
         CAST(round(sum(CAST(l_extendedprice AS DECIMAL(38,10))), 2) * 100 AS BIGINT) AS total_price
         FROM supplier JOIN lineitem ON s_suppkey = l_suppkey
         GROUP BY 1, 2 ORDER BY s_suppkey"""),
    QuerySpec("q05_anti_join", Queries.q05AntiJoin,
      """SELECT c_custkey, c_name, c_mktsegment FROM customer c
         WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
         ORDER BY c_custkey"""),
    QuerySpec("q06_broadcast_lookup", Queries.q06BroadcastLookup,
      """SELECT c_custkey, coalesce(n_name, 'UNKNOWN') AS nation,
         coalesce(r_name, 'UNKNOWN') AS region
         FROM customer LEFT JOIN nation ON c_nationkey = n_nationkey
         LEFT JOIN region ON n_regionkey = r_regionkey
         ORDER BY c_custkey"""),
    QuerySpec("q07_first_match", Queries.q07FirstMatchLookup,
      """SELECT p_partkey, p_brand, coalesce(first_flag, 'UNKNOWN') AS first_flag
         FROM part LEFT JOIN (
           SELECT l_partkey AS d_partkey, min(l_returnflag) AS first_flag
           FROM lineitem GROUP BY 1) dim ON p_partkey = d_partkey
         ORDER BY p_partkey"""),
    QuerySpec("q08_latest_per_key", Queries.q08LatestPerKey,
      """SELECT user_id, event_id, event_type,
         CAST(epoch_ms(ts) AS BIGINT) AS ts_ms, value
         FROM (SELECT *, row_number() OVER (PARTITION BY user_id
               ORDER BY ts DESC, event_id DESC) AS rn FROM events)
         WHERE rn = 1 ORDER BY user_id"""),
    QuerySpec("q09_window_rank", Queries.q09WindowRank,
      """SELECT l_orderkey, l_linenumber,
         strftime(l_shipdate, '%Y-%m-%d') AS ship_date,
         CAST(dense_rank() OVER (PARTITION BY l_orderkey
              ORDER BY l_shipdate DESC) AS INT) AS rn
         FROM lineitem ORDER BY l_orderkey, l_linenumber"""),
    QuerySpec("q10_dup_detector", Queries.q10DupDetector,
      """SELECT l_partkey, l_suppkey, CAST(count(*) AS BIGINT) AS n
         FROM lineitem GROUP BY 1, 2 HAVING count(*) > 1
         ORDER BY l_partkey, l_suppkey"""),
    QuerySpec("q11_topk", Queries.q11TopK,
      """SELECT c_custkey, c_name,
         CAST(round(sum(CAST(o_totalprice AS DECIMAL(38,10))), 2) * 100 AS BIGINT) AS total_spend
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY 1, 2 ORDER BY total_spend DESC, c_custkey ASC LIMIT 10"""),
    QuerySpec("q12_sort_limit", Queries.q12SortLimit,
      """SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
         FROM lineitem ORDER BY l_orderkey, l_linenumber LIMIT 100"""),
    QuerySpec("q13_availability", Queries.q13Availability,
      """SELECT CAST(count(*) AS BIGINT) AS n_rows FROM lineitem
         WHERE year(l_shipdate) = 1995"""),
    QuerySpec("q14_json_extract", Queries.q14JsonExtract,
      """SELECT user_id,
         CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
         CAST(count(*) AS BIGINT) AS n
         FROM events GROUP BY 1 ORDER BY user_id"""),
    QuerySpec("q15_doc_assembly", Queries.q15DocAssembly,
      """SELECT user_id,
         coalesce(string_agg(CASE WHEN event_type = 'click'
           THEN CAST(event_id AS VARCHAR) END, ','
           ORDER BY CAST(event_id AS VARCHAR)), '') AS clicks,
         coalesce(string_agg(CASE WHEN event_type = 'purchase'
           THEN CAST(event_id AS VARCHAR) END, ','
           ORDER BY CAST(event_id AS VARCHAR)), '') AS purchases,
         CAST(count(*) AS BIGINT) AS n_events
         FROM events GROUP BY 1 ORDER BY user_id"""),
    QuerySpec("q16_domain_checks", Queries.q16DomainChecks,
      """SELECT * FROM (
         SELECT 'lang_domain' AS check_name, CAST(sum(CASE WHEN lang NOT IN
           ('en','fr','es','de','zh') THEN 1 ELSE 0 END) AS BIGINT) AS violations
           FROM documents
         UNION ALL
         SELECT 'mktsegment_regex', CAST(sum(CASE WHEN NOT
           regexp_matches(c_mktsegment, '^[A-Z]+$') THEN 1 ELSE 0 END) AS BIGINT)
           FROM customer
         UNION ALL
         SELECT 'n_chars_range', CAST(sum(CASE WHEN n_chars < 1 OR
           n_chars > 100000 THEN 1 ELSE 0 END) AS BIGINT) FROM documents
         UNION ALL
         SELECT 'orderstatus_domain', CAST(sum(CASE WHEN o_orderstatus NOT IN
           ('F','O','P') THEN 1 ELSE 0 END) AS BIGINT) FROM orders
         ) ORDER BY check_name"""),
    QuerySpec("q17_date_buckets", Queries.q17DateBuckets,
      """SELECT strftime(o_orderdate, '%Y-%m') AS order_month,
         CAST(count(*) AS BIGINT) AS n_orders,
         CAST(round(sum(CAST(o_totalprice AS DECIMAL(38,10))), 2) * 100 AS BIGINT) AS total
         FROM orders GROUP BY 1 ORDER BY order_month"""),
    QuerySpec("q18_null_sanitize", Queries.q18NullSanitize,
      """SELECT event_type,
         CAST(round(sum(CAST(coalesce(CASE WHEN isnan(value) OR NOT isfinite(value)
           THEN NULL ELSE value END, 0.0) AS DECIMAL(38,10))), 2) * 100 AS BIGINT) AS sum_value,
         CAST(count(*) AS BIGINT) AS n
         FROM events GROUP BY 1 ORDER BY event_type"""),
    QuerySpec("q19_case_mapping", Queries.q19CaseMapping,
      """SELECT CASE WHEN event_type IN ('click','view') THEN 'engagement'
           WHEN event_type = 'purchase' THEN 'revenue'
           WHEN event_type = 'signup' THEN 'growth'
           ELSE 'ops' END AS bucket,
         CAST(count(*) AS BIGINT) AS n
         FROM events GROUP BY 1 ORDER BY bucket"""),
    QuerySpec("q20_union_distinct", Queries.q20UnionDistinct,
      """SELECT DISTINCT c_custkey, c_nationkey FROM (
         SELECT c_custkey, c_nationkey FROM customer WHERE c_mktsegment = 'BUILDING'
         UNION ALL
         SELECT c_custkey, c_nationkey FROM customer WHERE c_acctbal > 5000)
         ORDER BY c_custkey"""),
    QuerySpec("q21_fact_build", Queries.q21FactBuild,
      """SELECT o_orderkey, o_custkey, p_brand,
         strftime(o_orderdate, '%Y-%m-%d') AS order_date, rn,
         CAST(round(sum(CAST(l_extendedprice AS DECIMAL(38,10))), 2) * 100 AS BIGINT) AS total_value,
         CAST(count(*) AS BIGINT) AS n_facts
         FROM (
           SELECT *, CAST(dense_rank() OVER (PARTITION BY o_orderkey, o_custkey,
             p_brand, l_shipdate ORDER BY l_shipdate DESC) AS INT) AS rn
           FROM lineitem JOIN orders ON l_orderkey = o_orderkey
           JOIN part ON l_partkey = p_partkey
           WHERE p_type LIKE 'STANDARD%')
         GROUP BY 1, 2, 3, 4, 5 ORDER BY o_orderkey, p_brand, rn"""),
    // --- Beyond-parity LLM-pipeline operators. Every sketch query is
    // registered in a configuration DuckDB can recompute exactly:
    // q24/q25/q34 use the portable md5-prefix hash family
    // (TextFunctions.portableHash60 / MinHashParams), q27/q35/q36 run in
    // exact-recovery configurations, so all hash-check rather than
    // rows-only. ---
    QuerySpec("q22_exact_dup", Dedup.exactDupStats,
      """SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_unique
         FROM documents GROUP BY 1 ORDER BY source"""),
    // 3-gram Jaccard near-dup pairs at threshold 0.6 WITH the hot-shingle
    // frequency cap (shingles in > 50 docs are pruned before the pair
    // join) — the at-scale configuration: worst-case bucket fan-out is
    // bounded at 50², instead of quadratic in corpus size for stop-
    // shingles. The oracle SQL applies the identical doc-frequency prune
    // (a COUNT(*) OVER (PARTITION BY s) QUALIFY), so the check stays an
    // exact hash match.
    QuerySpec("q23_ngram_jaccard",
      (s, d) => Dedup.ngramJaccardPairs(Tables.documents(s, d), n = 3,
        threshold = 0.6, maxDocFreq = 50),
      """WITH sh AS (
           SELECT doc_id, list_distinct(list_transform(
             range(1, greatest(len(string_split_regex(lower(trim(text)), '\s+')) - 2, 0) + 1),
             i -> array_to_string(string_split_regex(lower(trim(text)), '\s+')[i:i+2], ' '))) AS shingles
           FROM documents),
         ex AS (SELECT doc_id, s
                FROM (SELECT doc_id, unnest(shingles) AS s FROM sh)
                QUALIFY count(*) OVER (PARTITION BY s) <= 50),
         sizes AS (SELECT doc_id, len(shingles) AS n FROM sh),
         inter AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS c
                   FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
                   GROUP BY 1, 2)
         SELECT d1, d2,
           CAST(round(c * 1.0 / (s1.n + s2.n - c), 6) * 1000000 AS BIGINT) AS jac
         FROM inter JOIN sizes s1 ON d1 = s1.doc_id
         JOIN sizes s2 ON d2 = s2.doc_id
         WHERE c * 1.0 / (s1.n + s2.n - c) >= 0.6 ORDER BY d1, d2""",
      fastHash = Some((s, d) => Dedup.ngramJaccardPairs(Tables.documents(s, d),
        n = 3, threshold = 0.6, maxDocFreq = 50, hashedKeys = true))),
    // MinHash 64 perms, 16 bands × 4 rows, est-Jaccard >= 0.5 — in the
    // portable-hash configuration (md5-prefix base hash + universal-
    // hash permutations mod 2^31-1), which DuckDB computes identically,
    // so the whole shingle→signature→band→verify pipeline hash-checks
    // exactly. The xxhash64 configuration (same machinery, ~10x cheaper
    // hashing — the at-scale default) is asserted in
    // DedupSimilaritySpec.
    QuerySpec("q24_minhash_lsh",
      (s, d) => Dedup.minHashLshPairs(Tables.documents(s, d), n = 3,
        numHashes = 64, bands = 16, threshold = 0.5, portable = true),
      minHashOracleSql,
      fastHash = Some((s, d) => Dedup.minHashLshPairs(Tables.documents(s, d),
        n = 3, numHashes = 64, bands = 16, threshold = 0.5,
        portable = false))),
    // SimHash near-dups at hamming <= 3 — portable-hash configuration
    // (60-bit md5-prefix token hashes, 4×15-bit pigeonhole chunks) so
    // the sketch is exactly recomputable in the DuckDB oracle. The
    // 64-bit xxhash64 configuration is the at-scale default, asserted
    // in DedupSimilaritySpec.
    QuerySpec("q25_simhash",
      (s, d) => Dedup.simHashPairs(Tables.documents(s, d), maxHamming = 3,
        portable = true),
      simHashOracleSql,
      fastHash = Some((s, d) => Dedup.simHashPairs(Tables.documents(s, d),
        maxHamming = 3, portable = false))),
    // Brute-force cosine top-10 for vec_id=0 (exact baseline).
    QuerySpec("q26_cosine_topk",
      (s, d) => Similarity.bruteForceTopK(Tables.embeddings(s, d), queryId = 0,
        k = 10),
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qe
                    FROM embeddings WHERE vec_id = 0)
         SELECT vec_id,
           CAST(round(list_cosine_similarity(CAST(embedding AS DOUBLE[]), qe), 6)
                * 1000000 AS BIGINT) AS sim
         FROM embeddings, q WHERE vec_id != 0
         ORDER BY list_cosine_similarity(CAST(embedding AS DOUBLE[]), qe) DESC,
           vec_id LIMIT 10"""),
    // Hyperplane-LSH top-10, registered in its exact-recovery
    // configuration (planes = 0 → one bucket → full recall) so the
    // oracle check can hash-compare it against the brute-force SQL
    // answer the approximate path converges to. The approximate configuration
    // (planes = 8, ~1/256 candidate fraction) is asserted in
    // DedupSimilaritySpec.
    // q27/q36 run in exact-recovery configurations (one LSH bucket /
    // nprobe = nClusters), so the correct answer IS the brute-force
    // top-k — the same oracle as q26.
    QuerySpec("q27_ann_lsh",
      (s, d) => Similarity.lshTopK(Tables.embeddings(s, d), queryId = 0,
        k = 10, planes = 0),
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qe
                    FROM embeddings WHERE vec_id = 0)
         SELECT vec_id,
           CAST(round(list_cosine_similarity(CAST(embedding AS DOUBLE[]), qe), 6)
                * 1000000 AS BIGINT) AS sim
         FROM embeddings, q WHERE vec_id != 0
         ORDER BY list_cosine_similarity(CAST(embedding AS DOUBLE[]), qe) DESC,
           vec_id LIMIT 10"""),
    QuerySpec("q28_langid", TextAnalysis.langIdQuery,
      """WITH p AS (SELECT doc_id, lang, ' ' || lower(text) || ' ' AS pt FROM documents),
         s AS (SELECT doc_id, lang,
           CAST((length(pt)-length(replace(pt,' the ','')))/5 AS BIGINT)
          +CAST((length(pt)-length(replace(pt,' and ','')))/5 AS BIGINT)
          +CAST((length(pt)-length(replace(pt,' of ','')))/4 AS BIGINT)
          +CAST((length(pt)-length(replace(pt,' is ','')))/4 AS BIGINT) AS en,
           CAST((length(pt)-length(replace(pt,' le ','')))/4 AS BIGINT)
          +CAST((length(pt)-length(replace(pt,' la ','')))/4 AS BIGINT)
          +CAST((length(pt)-length(replace(pt,' et ','')))/4 AS BIGINT)
          +CAST((length(pt)-length(replace(pt,' les ','')))/5 AS BIGINT) AS fr,
           CAST((length(pt)-length(replace(pt,' el ','')))/4 AS BIGINT)
          +CAST((length(pt)-length(replace(pt,' los ','')))/5 AS BIGINT)
          +CAST((length(pt)-length(replace(pt,' que ','')))/5 AS BIGINT)
          +CAST((length(pt)-length(replace(pt,' y ','')))/3 AS BIGINT) AS es,
           CAST((length(pt)-length(replace(pt,' der ','')))/5 AS BIGINT)
          +CAST((length(pt)-length(replace(pt,' und ','')))/5 AS BIGINT)
          +CAST((length(pt)-length(replace(pt,' die ','')))/5 AS BIGINT)
          +CAST((length(pt)-length(replace(pt,' ist ','')))/5 AS BIGINT) AS de
           FROM p)
         SELECT doc_id, lang AS lang_declared,
           CASE WHEN en >= fr AND en >= es AND en >= de THEN 'en'
                WHEN fr >= es AND fr >= de THEN 'fr'
                WHEN es >= de THEN 'es'
                ELSE 'de' END AS lang_pred,
           en AS score_en, fr AS score_fr
         FROM s ORDER BY doc_id"""),
    QuerySpec("q29_text_quality", TextAnalysis.qualityQuery,
      """SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars_m,
         CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_words,
         CAST(floor(length(replace(text, ' ', '')) * 10000.0
           / greatest(len(string_split_regex(trim(text), '\s+')), 1)) AS BIGINT)
           AS avg_word_len_e4,
         CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS BIGINT) AS n_punct,
         CAST(len(regexp_extract_all(text, '[0-9]')) AS BIGINT) AS n_digits,
         CAST(len(regexp_extract_all(text, '[A-Z]')) AS BIGINT) AS n_upper
         FROM documents ORDER BY doc_id"""),
    QuerySpec("q30_token_count", TextAnalysis.tokenCountQuery,
      """SELECT doc_id,
         CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS ws_tokens,
         CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) AS BIGINT)
           AS bpe_tokens
         FROM documents ORDER BY doc_id"""),
    QuerySpec("q31_fingerprint", TextAnalysis.fingerprintQuery,
      """SELECT doc_id,
         md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp_md5
         FROM documents ORDER BY doc_id"""),
    QuerySpec("q32_embed_stats", Similarity.embeddingStats,
      """SELECT label, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(round(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
           CAST(embedding AS DOUBLE[]))), 4) * 10000 AS BIGINT)) AS BIGINT) AS sum_norm
         FROM embeddings GROUP BY 1 ORDER BY label"""),
    QuerySpec("q33_multimodal_meta", Multimodal.metadataQuery,
      """SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
         md5(text) AS checksum
         FROM documents ORDER BY doc_id"""),
    // Winnowed fingerprint sketch sizes — portable-hash window
    // formulation so DuckDB recomputes the sketch exactly. The narrow
    // array formulation with xxhash64 (`TextAnalysis.winnowQuery`) is
    // the at-scale default, asserted in TextAnalysisSpec.
    QuerySpec("q34_winnow", (s, d) => TextAnalysis.winnowQueryPortable(s, d),
      winnowOracleSql,
      fastHash = Some((s, d) => TextAnalysis.winnowQuery(s, d))),
    // Embedding similar pairs at cosine>=0.3, registered in the
    // exact-recovery configuration (planes = 0 → one bucket → all pairs
    // verified) so the oracle check hash-compares the pair semantics
    // against a DuckDB all-pairs oracle. The bucketed configuration (planes = 4)
    // is asserted in DedupSimilaritySpec. (The testdata embeddings are
    // near-orthogonal random vectors — max pairwise cosine ~0.37 — so a
    // true near-dup threshold returns the empty set; 0.3 exercises the
    // operator end to end.)
    // q35 runs with planes = 0 (single bucket): candidate set = all
    // pairs, so the exact all-pairs cosine join is the oracle.
    QuerySpec("q35_embed_neardup",
      (s, d) => Dedup.embeddingNearDupPairs(Tables.embeddings(s, d),
        planes = 0, threshold = 0.3),
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
                    FROM embeddings)
         SELECT a.vec_id AS v1, b.vec_id AS v2,
           CAST(round(list_cosine_similarity(a.emb, b.emb), 6) * 1000000
                AS BIGINT) AS sim
         FROM e a JOIN e b ON a.vec_id < b.vec_id
         WHERE list_cosine_similarity(a.emb, b.emb) >= 0.3
         ORDER BY v1, v2"""),
    // IVF (inverted-file) top-10: 16-cluster k-means coarse quantizer,
    // registered in its exact-recovery configuration (nprobe = nClusters
    // → every list probed → provably the brute-force answer) so the
    // oracle check hash-compares the whole train/assign/probe
    // machinery. The approximate configuration (nprobe = 4, ~25%
    // scanned) is asserted in DedupSimilaritySpec.
    QuerySpec("q36_ivf_topk",
      (s, d) => Similarity.ivfTopK(Tables.embeddings(s, d), queryId = 0,
        k = 10, nClusters = 16, nprobe = 16, cacheKey = Some(d)),
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qe
                    FROM embeddings WHERE vec_id = 0)
         SELECT vec_id,
           CAST(round(list_cosine_similarity(CAST(embedding AS DOUBLE[]), qe), 6)
                * 1000000 AS BIGINT) AS sim
         FROM embeddings, q WHERE vec_id != 0
         ORDER BY list_cosine_similarity(CAST(embedding AS DOUBLE[]), qe) DESC,
           vec_id LIMIT 10"""),
    // q37's decode stub keys width/height on md5(payload) so the
    // decode output is recomputable in SQL (not just row-counted).
    QuerySpec("q37_multimodal_decode", Extensions.q37MultimodalDecode,
      """SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
         CAST(64 + CAST(('0x' || substr(md5(text), 1, 4)) AS INT) % 512 AS INT) AS width,
         CAST(64 + CAST(('0x' || substr(md5(text), 5, 4)) AS INT) % 512 AS INT) AS height
         FROM documents ORDER BY doc_id"""),
    // q38 = q04's join through the explicit salting strategy; salting
    // must not change the result, so the oracle is the PLAIN join.
    QuerySpec("q38_salted_join", Queries.q38SaltedJoin,
      """SELECT s_suppkey AS suppkey, s_name, CAST(count(*) AS BIGINT) AS n_items,
         CAST(round(sum(CAST(l_extendedprice AS DECIMAL(38,10))), 2) * 100 AS BIGINT) AS total_price
         FROM supplier JOIN lineitem ON s_suppkey = l_suppkey
         GROUP BY 1, 2 ORDER BY suppkey"""),
    // q39 composes quality gate -> language gate -> exact dedup; every
    // stage is portable by construction, so the composed pipeline
    // hash-checks end to end.
    QuerySpec("q39_prep_pipeline", (s, d) => PrepPipeline.prepQuery(s, d),
      s"""WITH $gatedDocsCtes
         SELECT doc_id, fp, n_words FROM gated ORDER BY doc_id"""),
    // q40: sliding-window chunking, chunkSize=32 stride=24; the chunk
    // count, per-chunk token counts, and content digests must all
    // match exactly.
    QuerySpec("q40_chunking", (s, d) => TextAnalysis.chunkQuery(s, d),
      """WITH t AS (
           SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks
           FROM documents),
         c AS (
           SELECT doc_id, toks, len(toks) AS n,
             unnest(range(0, CASE WHEN len(toks) <= 32 THEN 1
               ELSE CAST(ceil((len(toks) - 32) * 1.0 / 24) AS INT) + 1 END)) AS i
           FROM t)
         SELECT doc_id, CAST(i AS BIGINT) AS chunk_id,
           CAST(least(32, n - i * 24) AS BIGINT) AS n_tokens,
           md5(array_to_string(toks[i * 24 + 1 : i * 24 + least(32, n - i * 24)], ' ')) AS chunk_md5
         FROM c ORDER BY doc_id, chunk_id"""),
    // q41: the window-composed as-of join checked against DuckDB's
    // NATIVE ASOF JOIN — an independent reference implementation of
    // the operator's semantics.
    QuerySpec("q41_asof_join", Extensions.q41AsOfJoin,
      """WITH clicks AS (
           SELECT user_id, event_id, ts FROM events WHERE event_type = 'click'),
         purch AS (
           SELECT user_id, ts, value FROM (
             SELECT user_id, ts, value,
               row_number() OVER (PARTITION BY user_id, ts
                 ORDER BY event_id DESC) AS rn
             FROM events WHERE event_type = 'purchase')
           WHERE rn = 1)
         SELECT c.user_id, c.event_id,
           CAST(epoch_ms(c.ts) AS BIGINT) AS ts_ms,
           p.value AS last_purchase_value,
           CAST(epoch_ms(p.ts) AS BIGINT) AS purchase_ts_ms
         FROM clicks c ASOF LEFT JOIN purch p
           ON c.user_id = p.user_id AND c.ts >= p.ts
         ORDER BY c.user_id, c.event_id"""),
    // q42: the bucketed range join; integer-ms comparisons make the
    // plain theta join an exact oracle.
    QuerySpec("q42_range_join", Extensions.q42RangeJoin,
      """WITH clicks AS (
           SELECT user_id, event_id AS click_id, CAST(epoch_ms(ts) AS BIGINT) AS t
           FROM events WHERE event_type = 'click'),
         err AS (
           SELECT user_id, event_id AS err_id, CAST(epoch_ms(ts) AS BIGINT) AS et
           FROM events WHERE event_type = 'error')
         SELECT c.user_id, click_id, err_id, (t - et) AS delta_ms
         FROM clicks c JOIN err e
           ON c.user_id = e.user_id AND c.t BETWEEN e.et - 600000 AND e.et + 600000
         ORDER BY c.user_id, click_id, err_id"""),
    // q43: benchmark decontamination — 3-gram overlap of every corpus
    // doc against the `src0` docs standing in as the eval set, flagged
    // at >= 5 shared shingles.
    // decontamination — the inverted-index overlap count is fully
    // portable (same shingle construction as q23).
    QuerySpec("q43_decontaminate",
      (s, d) => Dedup.benchmarkOverlap(Tables.documents(s, d),
        benchSource = "src0", n = 3, minOverlap = 5L),
      """WITH sh AS (
           SELECT doc_id, source, list_distinct(list_transform(
             range(1, greatest(len(string_split_regex(lower(trim(text)), '\s+')) - 2, 0) + 1),
             i -> array_to_string(string_split_regex(lower(trim(text)), '\s+')[i:i+2], ' '))) AS shingles
           FROM documents),
         ex AS (SELECT doc_id, source, unnest(shingles) AS s FROM sh),
         bench AS (SELECT s, doc_id AS bench_id FROM ex WHERE source = 'src0'),
         corp AS (SELECT doc_id, s FROM ex WHERE source <> 'src0'),
         ov AS (SELECT doc_id, bench_id, count(*) AS c
                FROM corp JOIN bench USING (s) GROUP BY 1, 2)
         SELECT doc_id, max(c) AS max_overlap,
           CAST(sum(CASE WHEN c >= 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminating
         FROM ov GROUP BY doc_id ORDER BY doc_id"""),
    // q44: content-hash split assignment (90/5/5) — deterministic and
    // portable, so the oracle recomputes every bucket and label.
    QuerySpec("q44_split_assign",
      (s, d) =>
        PrepPipeline.splitAssignment(Tables.documents(s, d)).orderBy("doc_id"),
      """SELECT doc_id,
         CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT) % 100 AS bucket,
         CASE WHEN CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT) % 100 < 90 THEN 'train'
              WHEN CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT) % 100 < 95 THEN 'val'
              ELSE 'test' END AS split
         FROM documents ORDER BY doc_id"""),
    // q45: connected components over q23's near-dup pairs; the oracle
    // recomputes the transitive closure with a recursive CTE (tiny
    // components at test scale), so cluster ids, sizes, and canonical
    // flags all hash-check exactly.
    QuerySpec("q45_dup_clusters", Extensions.q45DupClusters,
      (dupClusterCte +
      """, sz AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
                FROM lab GROUP BY 1)
         SELECT l.doc_id, l.cluster_id, s.cluster_size,
           CAST(CASE WHEN l.doc_id = l.cluster_id THEN 1 ELSE 0 END AS INT) AS is_canonical
         FROM lab l JOIN sz s USING (cluster_id) ORDER BY l.doc_id""")),
    // q46: gap-based batch sessionization of the event stream
    // (30-minute inactivity gap): per-session event counts, bounds,
    // and durations.
    // gap-based sessionization — identical window arithmetic on
    // both engines over epoch-ms integers. q149 shares the oracle:
    // its input is the SAME events, round-tripped through the
    // streaming parquet file sink, so a hash match proves the ingest
    // path lossless.
    QuerySpec("q46_sessionize",
      (s, d) => Sessionize.sessionQuery(s, d, gapMs = 1800000L),
      sessionizeOracleSql),
    // q47: TF-IDF top-3 terms per document with exact integer rational
    // scores (tf * 1e6 * N div df).
    // TF-IDF with exact integer rational scores — no ln(), whose
    // libm rounding differs across engines.
    QuerySpec("q47_tfidf", (s, d) => TextAnalysis.tfidfQuery(s, d, topK = 3),
      """WITH t AS (SELECT doc_id,
             unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
           FROM documents),
         tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
                FROM t GROUP BY 1, 2),
         df AS (SELECT term, CAST(count(*) AS BIGINT) AS df
                FROM tf GROUP BY 1),
         n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
         sc AS (SELECT doc_id, term,
             (tf * 1000000 * n_docs) // df AS score_e6
           FROM tf JOIN df USING (term) CROSS JOIN n)
         SELECT doc_id, term, score_e6,
           CAST(row_number() OVER (PARTITION BY doc_id
             ORDER BY score_e6 DESC, term) AS INT) AS term_rank
         FROM sc QUALIFY term_rank <= 3 ORDER BY doc_id, term_rank"""),
    // q48: repetition quality signals — duplicate-word fraction and
    // top-bigram fraction (Gopher-rules style).
    // repetition signals; bigram lists built with the same
    // 1-based slice arithmetic, ratios as integer division.
    QuerySpec("q48_repetition", TextAnalysis.repetitionQuery,
      """WITH t AS (SELECT doc_id,
             string_split_regex(lower(trim(text)), '\s+') AS toks
           FROM documents),
         s AS (SELECT doc_id, len(toks) AS n,
             len(list_distinct(toks)) AS nd,
             CASE WHEN len(toks) >= 2 THEN list_transform(
               range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])
             ELSE [] END AS bi
           FROM t),
         bc AS (SELECT doc_id, b, count(*) AS c
                FROM (SELECT doc_id, unnest(bi) AS b FROM s) GROUP BY 1, 2),
         agg AS (SELECT doc_id, max(c) AS top, sum(c) AS nbi
                 FROM bc GROUP BY 1)
         SELECT s.doc_id, CAST(n AS BIGINT) AS n_tokens,
           CAST(((n - nd) * 1000000) // n AS BIGINT) AS dup_word_frac_e6,
           CAST((coalesce(top, 0) * 1000000)
             // greatest(coalesce(nbi, 1), 1) AS BIGINT) AS top_bigram_frac_e6
         FROM s LEFT JOIN agg USING (doc_id) ORDER BY s.doc_id"""),
    // q49: PII redaction report over event props + customer names.
    // PII redaction — pattern counts on the raw payload, digest
    // of the scrubbed payload (emails first, then numeric runs).
    QuerySpec("q49_pii_redact", Redaction.redactQuery,
      """WITH u AS (
           SELECT 'events' AS src, event_id AS rec_id, props AS payload
           FROM events
           UNION ALL
           SELECT 'customer', c_custkey, c_name FROM customer)
         SELECT src, rec_id,
           CAST(len(regexp_extract_all(payload, '[0-9]+')) AS BIGINT) AS n_ids,
           CAST(len(regexp_extract_all(payload,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+')) AS BIGINT) AS n_emails,
           md5(regexp_replace(regexp_replace(payload,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+', '#', 'g'),
             '[0-9]+', '#', 'g')) AS redacted_md5
         FROM u ORDER BY src, rec_id"""),
    // q50: month × status rollup with subtotals and grand total.
    // rollup — GROUPING bit encoding matches Spark's
    // grouping_id() (1 = column aggregated away), nulls folded to
    // 'ALL' so ordering is null-free.
    QuerySpec("q50_rollup", OlapOps.rollupQuery,
      """SELECT coalesce(m, 'ALL') AS order_month,
           coalesce(s, 'ALL') AS o_orderstatus,
           CAST(GROUPING(m, s) AS INT) AS gid,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(38,10))), 2) * 100
             AS BIGINT) AS total_cents
         FROM (SELECT strftime(o_orderdate, '%Y-%m') AS m,
                 o_orderstatus AS s, o_totalprice FROM orders)
         GROUP BY ROLLUP(m, s)
         ORDER BY gid, order_month, o_orderstatus"""),
    // q51: event-type pivot — one count column per type.
    // pivot = conditional aggregation with the same fixed value
    // list as the Spark pivot.
    QuerySpec("q51_pivot", OlapOps.pivotQuery,
      """SELECT user_id,
           CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
           CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
           CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
           CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
           CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error
         FROM events GROUP BY 1 ORDER BY user_id"""),
    // q52: per-user 3-row moving value sum (decimal-exact).
    // 3-row moving sum, NaN/Inf-sanitized and decimal-exact.
    QuerySpec("q52_moving_window", OlapOps.movingWindowQuery,
      """SELECT user_id, event_id,
           CAST(round(sum(CAST(v AS DECIMAL(38,10))) OVER (
             PARTITION BY user_id ORDER BY t, event_id
             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 2) * 100
             AS BIGINT) AS mv_sum_cents
         FROM (SELECT user_id, event_id,
                 CAST(epoch_ms(ts) AS BIGINT) AS t,
                 coalesce(CASE WHEN isnan(value) OR NOT isfinite(value)
                   THEN NULL ELSE value END, 0.0) AS v
               FROM events)
         ORDER BY user_id, event_id"""),
    // q53: discrete median/p95 of event values per type.
    // discrete percentiles by explicit rank selection — the
    // doubles are corpus values passed through, never arithmetic.
    QuerySpec("q53_percentiles", OlapOps.percentileQuery,
      """WITH f AS (SELECT event_type, event_id, value FROM events
                    WHERE NOT isnan(value) AND isfinite(value)),
         r AS (SELECT event_type, value,
                 row_number() OVER (PARTITION BY event_type
                   ORDER BY value, event_id) AS rn,
                 count(*) OVER (PARTITION BY event_type) AS n
               FROM f)
         SELECT event_type, CAST(max(n) AS BIGINT) AS n,
           min(CASE WHEN rn = (n + 1) // 2 THEN value END) AS median_value,
           min(CASE WHEN rn = (19 * n + 19) // 20 THEN value END) AS p95_value
         FROM r GROUP BY 1 ORDER BY event_type"""),
    // q54: z-order layout statistics — Morton keys over
    // (user, time-bucket), per-z-range min/max of both dimensions.
    // z-order key arithmetic generated from the same constants
    // as the Spark expression (shared-construction, like MinHash).
    QuerySpec("q54_zorder", ZOrder.zorderQuery, ZOrder.zorderOracleSql),
    // q55: sequence-packing offsets — the oracle's single global
    // cumsum equals the engine's distributed two-phase prefix sum.
    QuerySpec("q55_packing",
      (s, d) => PrepPipeline.packingOffsets(Tables.documents(s, d)),
      """WITH t AS (SELECT doc_id,
             CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS BIGINT)
               AS n_tokens
           FROM documents)
         SELECT doc_id, n_tokens,
           CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             AS BIGINT) AS global_offset,
           CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 2048
             AS BIGINT) AS pack_id
         FROM t ORDER BY doc_id"""),
    // q56: hyperplane-LSH top-10 in a genuinely APPROXIMATE
    // configuration — planes = 6 with 2 multi-probe flips, so the
    // candidate join scans ~3/64 of the corpus — oracle-checked
    // exactly: the bucket assignment is integer arithmetic on the
    // portable plane family, recomputed verbatim by the oracle SQL.
    // the APPROXIMATE ANN configuration (planes=6, 2 probe
    // flips) — the oracle recomputes the integer bucket assignment
    // from the same plane constants, then takes the exact top-k
    // WITHIN the probed buckets.
    QuerySpec("q56_ann_portable",
      (s, d) => Similarity.portableLshTopK(Tables.embeddings(s, d),
        queryId = 0, k = 10, planes = 6, probeFlips = 2), annPortableOracleSql),
    // q57: data-skipping manifest of linear vs z-order layouts — the
    // maintenance toolkit's pruning claim on the query surface.
    // layout manifest — z-key arithmetic shared with q54.
    QuerySpec("q57_layout_stats", Maintenance.layoutCompareQuery,
      Maintenance.layoutCompareOracleSql),
    // q58: SemDeDup-style semantic dedup — portable LSH buckets, then
    // within-bucket cosine pairs mark later vectors as duplicates of
    // their earliest neighbor.
    // same plane-constant generation as q56, planes=4.
    QuerySpec("q58_semantic_dedup",
      (s, d) => Similarity.semanticDedup(Tables.embeddings(s, d)),
      semanticDedupOracleSql),
    // q59: deterministic stratified downsampling to the smallest
    // language stratum.
    QuerySpec("q59_stratified_sample",
      (s, d) => Curation.stratifiedSample(Tables.documents(s, d)),
      Curation.stratifiedSampleOracleSql),
    // q60: per-language data-mixing weights toward a uniform token
    // mixture.
    QuerySpec("q60_mixing_weights",
      (s, d) => Curation.mixingWeights(Tables.documents(s, d)),
      Curation.mixingWeightsOracleSql),
    // q61: top-20-per-language quality quota.
    QuerySpec("q61_quota_select",
      (s, d) => Curation.quotaSelect(Tables.documents(s, d)),
      Curation.quotaSelectOracleSql()),
    // q62: edit-distance near-dups with prefix blocking + hot-block
    // cap.
    QuerySpec("q62_edit_blocked",
      (s, d) => Dedup.editBlockedPairs(Tables.documents(s, d)),
      Dedup.editBlockedOracleSql()),
    // q63: sequential signup→view→click→purchase funnel in one
    // groupBy.
    QuerySpec("q63_funnel", Sessionize.funnelQuery, Sessionize.funnelOracleSql),
    // q64: priority × status CUBE (all grouping sets, one Expand).
    QuerySpec("q64_cube", OlapOps.cubeQuery,
      """SELECT coalesce(o_orderpriority, 'ALL') AS o_orderpriority,
           coalesce(o_orderstatus, 'ALL') AS o_orderstatus,
           CAST(GROUPING(o_orderpriority, o_orderstatus) AS INT) AS gid,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(38,10))), 2) * 100
             AS BIGINT) AS total_cents
         FROM orders
         GROUP BY CUBE(o_orderpriority, o_orderstatus)
         ORDER BY gid, o_orderpriority, o_orderstatus"""),
    QuerySpec("q65_incremental_dedup", Extensions.q65IncrementalDedup,
      incrementalDedupOracleSql),
    // q66: SCD type-2 validity intervals of each user's event-type
    // stream (change detection + interval close, one keyed shuffle).
    QuerySpec("q66_scd2", OlapOps.scd2Query, OlapOps.scd2OracleSql),
    // q67: exactly-100-doc reproducible sample (hash-ordered top-k,
    // TakeOrderedAndProject — no global sort).
    QuerySpec("q67_exact_sample",
      (s, d) => Curation.exactSample(Tables.documents(s, d)),
      Curation.exactSampleOracleSql()),
    // q68: vocabulary build — corpus term frequencies, min-count floor,
    // contiguous ids by (count DESC, term).
    QuerySpec("q68_vocab",
      (s, d) => TextAnalysis.vocabQuery(s, d), vocabOracleSql),
    // q69: winnow-fingerprint near-dup pairs (MOSS shape) — the
    // compressed inverted index, with q23's hot-key cap.
    QuerySpec("q69_winnow_pairs",
      (s, d) => Dedup.winnowPairs(Tables.documents(s, d)),
      winnowPairsOracleSql),
    // q70: robust per-language [p5, p95] token-length trim with exact
    // rank-selected percentiles.
    QuerySpec("q70_length_trim",
      (s, d) => Curation.lengthTrim(Tables.documents(s, d)),
      Curation.lengthTrimOracleSql),
    // q71: cross-doc duplicated 8-token-span mass (span-aligned
    // exact-substring dedup report) — string span keys so the oracle
    // recomputes them; the xxhash64-keyed at-scale shape is asserted
    // equal in CorpusStatsSpec.
    QuerySpec("q71_span_dedup", (s, d) => CorpusStats.spanDupQuery(s, d),
      CorpusStats.spanDupOracleSql),
    // q72: truncated top-12 vocabulary coverage — per-doc OOV mass.
    QuerySpec("q72_vocab_coverage", (s, d) => CorpusStats.vocabCoverage(s, d),
      CorpusStats.vocabCoverageOracleSql),
    // q73: embedding-space benchmark decontamination — corpus vectors
    // whose max cosine against the eval subset (vec_id % 10 == 0)
    // reaches 0.3, with the best-matching eval id.
    QuerySpec("q73_embed_decontam",
      (s, d) => Similarity.embedDecontaminate(Tables.embeddings(s, d)),
      Similarity.embedDecontaminateOracleSql),
    // q74: zero-filled hourly event counts per type over the global
    // hour range (calendar gap-fill).
    QuerySpec("q74_gap_fill", OlapOps.gapFillQuery, OlapOps.gapFillOracleSql),
    // q75: Tukey IQR outlier fences + counts per event type, integer
    // cents throughout.
    QuerySpec("q75_outlier_fences", OlapOps.outlierFencesQuery,
      OlapOps.outlierFencesOracleSql),
    // q76: posting lists for mid-df bigram terms (df in [5,50], first
    // 20 sorted doc ids).
    QuerySpec("q76_posting_lists",
      (s, d) => CorpusStats.postingListsQuery(s, d),
      CorpusStats.postingListsOracleSql),
    // q77: first-order event-type transition matrix per user stream.
    QuerySpec("q77_transitions", Sessionize.transitionsQuery,
      Sessionize.transitionsOracleSql),
    // q78: asymmetric containment pairs (Broder containment >= 0.8,
    // 3-gram sets, hot-shingle cap) — the quote/excerpt detector.
    QuerySpec("q78_containment",
      (s, d) => Dedup.containmentPairs(Tables.documents(s, d)),
      Dedup.containmentOracleSql),
    // q79: hourly max concurrent sessions (sweep-line with a
    // distributed two-phase prefix sum).
    QuerySpec("q79_concurrency", (s, d) => Sessionize.concurrencyQuery(s, d),
      Sessionize.concurrencyOracleSql),
    // q80: retention cohorts — first-active-day × day-offset distinct
    // user counts.
    QuerySpec("q80_retention", Sessionize.retentionQuery,
      Sessionize.retentionOracleSql),
    // q81: approximate IVF top-10 with deterministic anchor centroids
    // (8 anchors, nprobe = 2 → ~1/4 of the corpus scored) — the IVF
    // sibling of q56, giving the second ANN family an oracle-checked
    // approximate registration.
    // approximate IVF — anchor centroids + rounded-integer argmax
    // make every routing decision recomputable by the oracle.
    QuerySpec("q81_ivf_anchors",
      (s, d) => Similarity.ivfAnchorTopK(Tables.embeddings(s, d), queryId = 0,
        k = 10, nAnchors = 8, nprobe = 2), Similarity.ivfAnchorOracleSql()),
    // q82: skip-gram co-occurrence pair counts (window 2, top 100) —
    // word2vec-style (center, context) training-pair extraction.
    // oracle uses the positions self-join; the engine generates
    // pairs narrowly from the token array — same pairs, no join.
    QuerySpec("q82_skipgram", (s, d) => TextAnalysis.skipgramQuery(s, d),
      TextAnalysis.skipgramOracleSql),
    // q83: per-language top-5 heavy-hitter tokens with rank.
    QuerySpec("q83_heavy_hitters",
      (s, d) => TextAnalysis.heavyHittersQuery(s, d),
      TextAnalysis.heavyHittersOracleSql),
    // q84: INTERSECT/EXCEPT audience segmentation over order years.
    QuerySpec("q84_setops", OlapOps.setOpsQuery, OlapOps.setOpsOracleSql),
    // q85: order-total deciles via a distributed two-phase global rank
    // (no single-partition window).
    // oracle ranks with one global window (fine at oracle scale);
    // the engine uses the blocked two-phase prefix-sum rank.
    QuerySpec("q85_deciles", OlapOps.decileQuery, OlapOps.decileOracleSql),
    // q86: co-occurrence lift (integer-rational PMI) for mid-frequency
    // term pairs.
    QuerySpec("q86_pmi",
      (s, d) => CorpusStats.pmiQuery(s, d), CorpusStats.pmiOracleSql),
    // q87: canonical text normalization with collapse counts.
    QuerySpec("q87_normalize", TextAnalysis.normalizeQuery,
      TextAnalysis.normalizeOracleSql),
    // q88: unpivot/melt of the lineitem measures via one Expand.
    QuerySpec("q88_unpivot", OlapOps.unpivotQuery, OlapOps.unpivotOracleSql),
    // q89: capped sorted LISTAGG (bounded collect after a shared-key
    // window cap).
    QuerySpec("q89_listagg", OlapOps.listAggQuery, OlapOps.listAggOracleSql),
    // q90: per-segment modal order priority, deterministic tie-break.
    QuerySpec("q90_mode", OlapOps.modeQuery, OlapOps.modeOracleSql),
    // q91: snapshot diff (CDC derive): added/removed/changed between
    // two deterministic versions of orders.
    QuerySpec("q91_snapshot_diff", ChangeCapture.snapshotDiffQuery,
      ChangeCapture.snapshotDiffOracleSql),
    // q92: rolling 7-day distinct active users via the expand shape.
    QuerySpec("q92_rolling_active",
      (s, d) => Sessionize.rollingActiveQuery(s, d),
      Sessionize.rollingActiveOracleSql),
    // q93: one-pass exact co-moment components per return flag.
    QuerySpec("q93_comoments", OlapOps.comomentsQuery,
      OlapOps.comomentsOracleSql),
    // q94: equi-width histogram with zero-filled empty bins.
    QuerySpec("q94_histogram", OlapOps.histogramQuery,
      OlapOps.histogramOracleSql),
    // q95: BPE seed pair counts over the distinct-word freq table.
    QuerySpec("q95_bpe_pairs", (s, d) => TextAnalysis.bpePairsQuery(s, d),
      TextAnalysis.bpePairsOracleSql),
    // q96: schema-drift unionByName audit (v1/v2 extracts).
    QuerySpec("q96_drift_union", ChangeCapture.driftUnionQuery,
      ChangeCapture.driftUnionOracleSql),
    // q97: MAD robust outliers per event type.
    QuerySpec("q97_mad_outliers", OlapOps.madOutliersQuery,
      OlapOps.madOutliersOracleSql),
    // q98: deterministic hash-drawn negative samples for the top
    // skip-gram pairs.
    QuerySpec("q98_negative_samples",
      (s, d) => TextAnalysis.negativeSamplesQuery(s, d),
      TextAnalysis.negativeSamplesOracleSql),
    // q99: materialized training mixture (per-doc epoch rows from the
    // q60 weights, hash-decided fractional epoch).
    QuerySpec("q99_mixture",
      (s, d) => Curation.mixtureMaterialize(Tables.documents(s, d)),
      Curation.mixtureMaterializeOracleSql),
    // q100: integer fixed-point PageRank over the co-activity graph.
    QuerySpec("q100_pagerank", (s, d) => GraphRank.pageRankQuery(s, d),
      GraphRank.pageRankOracleSql),
    // q101: oracle-checked count-min sketch vs exact heavy hitters.
    QuerySpec("q101_cms",
      (s, d) => CorpusStats.cmsQuery(s, d), CorpusStats.cmsOracleSql),
    // q102: quantile calibration of customer balances onto the
    // supplier distribution (two distributed ranks + integer rank
    // mapping).
    QuerySpec("q102_quantile_map", OlapOps.quantileMapQuery,
      OlapOps.quantileMapOracleSql),
    // q103: deterministic weighted (length-proportional) sample.
    QuerySpec("q103_weighted_sample",
      (s, d) => Curation.weightedSample(Tables.documents(s, d)),
      Curation.weightedSampleOracleSql()),
    // q104: largest-remainder token-budget apportionment.
    QuerySpec("q104_budget_alloc", OlapOps.budgetAllocQuery,
      OlapOps.budgetAllocOracleSql),
    // q105: chi-square independence components (segment × priority).
    QuerySpec("q105_chi_square", OlapOps.chiSquareQuery,
      OlapOps.chiSquareOracleSql),
    // q106: top session paths (ordered event-type journeys).
    QuerySpec("q106_session_paths",
      (s, d) => Sessionize.sessionPathsQuery(s, d),
      Sessionize.sessionPathsOracleSql),
    // q107: join-key skew diagnosis report.
    QuerySpec("q107_skew_report",
      (s, d) => JoinStrategies.skewReportQuery(s, d),
      JoinStrategies.skewReportOracleSql),
    // q108: SCD2 point-in-time (time travel) lookup.
    QuerySpec("q108_scd2_asof", OlapOps.scd2AsOfQuery,
      OlapOps.scd2AsOfOracleSql),
    // q109: temporal interval join of events to their SCD2 version.
    QuerySpec("q109_temporal_join", OlapOps.temporalJoinQuery,
      OlapOps.temporalJoinOracleSql),
    // q110: per-type activity trend (exact OLS slope components).
    QuerySpec("q110_trend", OlapOps.trendQuery, OlapOps.trendOracleSql),
    // q111: Good-Turing frequency-of-frequencies table.
    QuerySpec("q111_freq_spectrum", OlapOps.freqSpectrumQuery,
      OlapOps.freqSpectrumOracleSql),
    // q112: k-anonymity audit over (segment, nation) classes.
    QuerySpec("q112_k_anonymity", OlapOps.kAnonymityQuery,
      OlapOps.kAnonymityOracleSql),
    // q113: incremental view maintenance — partial-merge equals the
    // oracle's full recompute.
    QuerySpec("q113_ivm", OlapOps.ivmQuery, OlapOps.ivmOracleSql),
    // q114: per-stratum min-max feature scaling (exact rationals).
    QuerySpec("q114_minmax_scale", OlapOps.minMaxScaleQuery,
      OlapOps.minMaxScaleOracleSql),
    // q115: funnel time-to-convert latency percentiles.
    QuerySpec("q115_funnel_latency", Sessionize.funnelLatencyQuery,
      Sessionize.funnelLatencyOracleSql),
    // q116: referential-integrity summary over every FK edge.
    QuerySpec("q116_ri_summary", DataQuality.riSummaryQuery,
      DataQuality.riSummaryOracleSql),
    // q117: hierarchical percent-of-parent revenue shares.
    QuerySpec("q117_parent_share", OlapOps.parentShareQuery,
      OlapOps.parentShareOracleSql),
    // q118: cumulative distribution over the q94 histogram bins.
    QuerySpec("q118_histogram_cdf", OlapOps.histogramCdfQuery,
      OlapOps.histogramCdfOracleSql),
    // q119: per-language token-mass weighted median length.
    QuerySpec("q119_weighted_median", OlapOps.weightedMedianQuery,
      OlapOps.weightedMedianOracleSql),
    // q120: market-basket co-ordered part pairs (capped baskets).
    QuerySpec("q120_basket_pairs", (s, d) => OlapOps.basketPairsQuery(s, d),
      OlapOps.basketPairsOracleSql),
    // q121: line-number contiguity audit (1..n, no gaps/dups).
    QuerySpec("q121_contiguity", OlapOps.contiguityQuery,
      OlapOps.contiguityOracleSql),
    // q122: per-stratum exact-K hash sample.
    QuerySpec("q122_stratified_k",
      (s, d) => Curation.stratifiedExactK(Tables.documents(s, d)),
      Curation.stratifiedExactKOracleSql()),
    // q123: total-variation drift components between corpus halves.
    QuerySpec("q123_drift_tvd",
      (s, d) => Curation.driftTvdQuery(Tables.documents(s, d)),
      Curation.driftTvdOracleSql),
    // q124: funnel conversion rate per activity decile.
    QuerySpec("q124_conv_decile", Sessionize.conversionByDecileQuery,
      Sessionize.conversionByDecileOracleSql),
    // q125: per-stream data-freshness/staleness audit.
    QuerySpec("q125_freshness", DataQuality.freshnessQuery,
      DataQuality.freshnessOracleSql),
    // q126: first-order Markov conditional probabilities.
    QuerySpec("q126_markov", Sessionize.markovQuery,
      Sessionize.markovOracleSql),
    // q127: pairwise audience-overlap Jaccard between event types.
    QuerySpec("q127_audience", Sessionize.audienceOverlapQuery,
      Sessionize.audienceOverlapOracleSql),
    // q128: relative price-dispersion top-k per part.
    QuerySpec("q128_dispersion", OlapOps.priceDispersionQuery,
      OlapOps.priceDispersionOracleSql),
    // q129: integer half-life recency-decayed activity scores.
    QuerySpec("q129_decay_score", Sessionize.decayScoreQuery,
      Sessionize.decayScoreOracleSql),
    // q130: pairwise source similarity by capped vocabulary Jaccard.
    QuerySpec("q130_source_vocab", CorpusStats.sourceVocabOverlapQuery,
      CorpusStats.sourceVocabOverlapOracleSql),
    // q131: Pareto/ABC revenue classification (blocked running sum).
    QuerySpec("q131_pareto", OlapOps.paretoQuery, OlapOps.paretoOracleSql),
    // q132: daily session bounce rate.
    QuerySpec("q132_bounce_rate", Sessionize.bounceRateQuery,
      Sessionize.bounceRateOracleSql),
    // q133: weekday × hour heatmap over the complete zero-filled grid.
    QuerySpec("q133_heatmap", OlapOps.heatmapQuery, OlapOps.heatmapOracleSql),
    // q134: single-pass column-profile report (null/distinct per col).
    QuerySpec("q134_column_profile", DataQuality.columnProfileQuery,
      DataQuality.columnProfileOracleSql),
    // q135: lexical type-token ratio per source.
    QuerySpec("q135_ttr", CorpusStats.typeTokenRatioQuery,
      CorpusStats.typeTokenRatioOracleSql),
    // q136: basket association lift (independence-normalized q120).
    QuerySpec("q136_basket_lift", (s, d) => OlapOps.basketLiftQuery(s, d),
      OlapOps.basketLiftOracleSql),
    // q137: lag-1 autocorrelation components of daily counts.
    QuerySpec("q137_autocorr", OlapOps.autocorrQuery,
      OlapOps.autocorrOracleSql),
    // q138: cross-field rule-assertion suite in one scan.
    QuerySpec("q138_assertions", DataQuality.assertionSuiteQuery,
      DataQuality.assertionSuiteOracleSql),
    // q139: RFM segmentation via three distributed tercile ranks.
    QuerySpec("q139_rfm", OlapOps.rfmQuery, OlapOps.rfmOracleSql),
    // q140: supplier-concentration HHI per part.
    QuerySpec("q140_hhi",
      (s, d) => OlapOps.hhiQuery(s, d), OlapOps.hhiOracleSql),
    // q141: weekday-baseline seasonal residuals (top absolute).
    QuerySpec("q141_seasonal", OlapOps.seasonalResidualQuery,
      OlapOps.seasonalResidualOracleSql),
    // q142: daily new-vs-returning user split.
    QuerySpec("q142_new_returning", OlapOps.newVsReturningQuery,
      OlapOps.newVsReturningOracleSql),
    // q143: chunking padding-waste audit (closed-form fill).
    QuerySpec("q143_packing_waste",
      (s, d) => TextAnalysis.packingWasteQuery(s, d),
      TextAnalysis.packingWasteOracleSql),
    // q144: within-source exact-dedup savings projection.
    QuerySpec("q144_dedup_savings", Dedup.dedupSavingsQuery,
      Dedup.dedupSavingsOracleSql),
    // q145 drains events through a real writeStream; its per-batch
    // rule counts are algebraic sums, so the streamed timeline totals
    // equal the batch assertion suite the oracle recomputes (plus the
    // deterministic micro-batch count).
    QuerySpec("q145_stream_monitor", MonitorStream.monitorTimelineQuery,
      MonitorStream.monitorTimelineOracleSql,
      readBack = Some((MonitorStream.sinkSchema, MonitorStream.ruleTotals _))),
    QuerySpec("q146_bpe_merges", (s, d) => TextAnalysis.bpeMergesQuery(s, d),
      TextAnalysis.bpeMergesOracleSql()),
    QuerySpec("q147_pruning_proof", Maintenance.pruningProofQuery,
      Maintenance.pruningProofOracleSql),
    QuerySpec("q148_bpe_segments",
      (s, d) => TextAnalysis.bpeSegmentStatsQuery(s, d),
      TextAnalysis.bpeSegmentStatsOracleSql()),
    QuerySpec("q149_ingest_sessions", EventStream.ingestSessionQuery,
      sessionizeOracleSql,
      readBack = Some((EventStream.ingestSinkSchema,
        EventStream.ingestSessionReadBack _))),
    QuerySpec("q150_ann_recall", (s, d) => Similarity.annRecallQuery(s, d),
      Similarity.annRecallOracleSql()),
    QuerySpec("q151_recall_curve",
      (s, d) => Similarity.annRecallCurveQuery(s, d),
      Similarity.annRecallCurveOracleSql()),
    QuerySpec("q152_hll_registers",
      (s, d) => DistinctSketch.hllRegistersQuery(s, d),
      DistinctSketch.hllRegistersOracleSql,
      fastHash = Some((s, d) => DistinctSketch.hllRegistersQuery(s, d,
        portable = false))),
    QuerySpec("q153_bloom_prune", JoinStrategies.bloomPruneQuery,
      JoinStrategies.bloomPruneOracleSql),
    QuerySpec("q154_join_size",
      (s, d) => JoinStrategies.selfJoinSizeQuery(s, d),
      JoinStrategies.selfJoinSizeOracleSql,
      fastHash = Some((s, d) => JoinStrategies.selfJoinSizeQuery(s, d,
        portable = false))),
    QuerySpec("q155_join_size_2rel", JoinStrategies.joinSizeQuery,
      JoinStrategies.joinSizeOracleSql),
    QuerySpec("q156_l_diversity", OlapOps.lDiversityQuery,
      OlapOps.lDiversityOracleSql),
    QuerySpec("q157_t_closeness", OlapOps.tClosenessQuery,
      OlapOps.tClosenessOracleSql),
    QuerySpec("q158_deletion_vectors", Maintenance.deletionVectorQuery,
      Maintenance.deletionVectorOracleSql),
    QuerySpec("q159_revenue_by_nation", Queries.q159RevenueByNation,
      Queries.q159RevenueByNationOracleSql),
    QuerySpec("q160_daily_registers", DistinctSketch.dailyRegistersQuery,
      DistinctSketch.dailyRegistersOracleSql),
    // q161: the same clusters, survivor chosen by QUALITY (longest
    // text, ties to lowest id) instead of min-id.
    QuerySpec("q161_cluster_best", Extensions.q161ClusterBest,
      (dupClusterCte +
      """, lens AS (SELECT doc_id, CAST(length(text) AS BIGINT) AS len
                FROM documents),
         rk AS (SELECT l.doc_id, l.cluster_id, lens.len,
                  row_number() OVER (PARTITION BY l.cluster_id
                    ORDER BY lens.len DESC, l.doc_id) AS rn
                FROM lab l JOIN lens USING (doc_id)),
         surv AS (SELECT cluster_id, doc_id AS survivor_id
                  FROM rk WHERE rn = 1)
         SELECT rk.doc_id, rk.cluster_id, surv.survivor_id,
           CAST(CASE WHEN rk.doc_id = surv.survivor_id
                THEN 1 ELSE 0 END AS INT) AS is_kept
         FROM rk JOIN surv USING (cluster_id) ORDER BY rk.doc_id""")),
    QuerySpec("q162_ppr", (s, d) => GraphRank.pprQuery(s, d),
      GraphRank.pprOracleSql),
    QuerySpec("q163_gini", OlapOps.giniQuery, OlapOps.giniOracleSql),
    QuerySpec("q164_attribution", (s, d) => Sessionize.attributionQuery(s, d),
      Sessionize.attributionOracleSql),
    QuerySpec("q165_last_touch", (s, d) => Sessionize.lastTouchQuery(s, d),
      Sessionize.lastTouchOracleSql),
    // q166-q168: oracle coverage for three §2 ops (F8 lateral flatten,
    // P6 membership filter, O4 top/bottom-K).
    QuerySpec("q166_flatten_view", q166FlattenView, flattenViewOracleSql),
    QuerySpec("q167_membership_topk", q167MembershipTopK,
      """SELECT l_orderkey, l_partkey, l_linenumber, l_quantity
         FROM lineitem
         WHERE l_partkey IN (
           SELECT l_partkey FROM (
             SELECT l_partkey,
               sum(CAST(l_quantity AS DECIMAL(38,10))) AS total
             FROM lineitem GROUP BY 1
             ORDER BY total DESC, l_partkey ASC LIMIT 10))
         ORDER BY l_orderkey, l_partkey, l_linenumber"""),
    QuerySpec("q168_top_bottom_k", q168TopBottomK,
      """SELECT o_orderkey, o_totalprice, bucket FROM (
           SELECT o_orderkey, o_totalprice, 'top' AS bucket
           FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 5)
         UNION ALL
         SELECT o_orderkey, o_totalprice, bucket FROM (
           SELECT o_orderkey, o_totalprice, 'bottom' AS bucket
           FROM orders ORDER BY o_totalprice ASC, o_orderkey ASC LIMIT 5)
         ORDER BY bucket, o_orderkey"""),
    // q169: §2.11 free-form SQL passthrough as an oracle-checked query
    // — the reference's most user-visible surface.
    // §2.11: the oracle IS the query — one dialect-neutral SQL text
    // executed by both engines, certifying the passthrough surface.
    QuerySpec("q169_sql_passthrough", q169SqlPassthrough, q169Sql),
    // q170/q171: the SINKS themselves under oracle check — parquet
    // partitioned write + partition-discovery read (S7/S13) and JSON
    // doc write + schema'd load (S9/S10), matched against DuckDB over
    // the ORIGINAL tables, so the round-trips prove lossless.
    // the oracles aggregate the ORIGINAL tables; the Spark side
    // aggregates its sink round-trip — equality proves the sink
    QuerySpec("q170_sink_roundtrip", Extensions.q170SinkRoundtrip,
      """SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
         CAST(round(sum(CAST(l_extendedprice AS DECIMAL(38,10))), 2) * 100 AS BIGINT) AS total_cents
         FROM lineitem GROUP BY 1 ORDER BY 1""",
      readBack = Some((Extensions.q170SinkSchema, Extensions.q170ReadBack _))),
    QuerySpec("q171_json_roundtrip", Extensions.q171JsonRoundtrip,
      """SELECT lang, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(length(text)) AS BIGINT) AS text_len,
         CAST(sum(n_chars) AS BIGINT) AS chars
         FROM documents GROUP BY 1 ORDER BY 1"""),
    // q172: explicit GROUPING SETS — completes the ROLLUP/CUBE family
    // with the arbitrary-subset form (two summaries, one scan).
    QuerySpec("q172_grouping_sets", OlapOps.groupingSetsQuery,
      OlapOps.groupingSetsOracleSql),
    // q173: MATCH_RECOGNIZE-lite — regex motif counting over
    // session-bounded event-type strings (gap-rule sessionization).
    QuerySpec("q173_session_pattern",
      (s, d) => Sessionize.sessionPatternQuery(s, d),
      Sessionize.sessionPatternOracleSql),
    // q174: bigram-LM fluency scoring — corpus-trained add-one
    // transition model, every doc scored by mean P(w2|w1), exact e6.
    QuerySpec("q174_bigram_lm", CorpusStats.bigramLmQuery,
      CorpusStats.bigramLmOracleSql),
    // q175: the TSV scanner under oracle check — headered TSV write,
    // SecIngest.readTsv+typed read-back with a reordered/re-cased
    // declared schema, aggregate matched against the original table.
    // the oracle aggregates the ORIGINAL lineitem; the Spark side
    // aggregates its TSV write → readTsv/typed round-trip.
    QuerySpec("q175_tsv_roundtrip", Extensions.q175TsvRoundtrip,
      """SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(l_orderkey) AS BIGINT) AS key_sum,
         CAST(round(sum(CAST(l_quantity AS DECIMAL(38,10))), 2) * 100 AS BIGINT) AS qty_cents,
         CAST(round(sum(CAST(l_extendedprice AS DECIMAL(38,10))), 2) * 100 AS BIGINT) AS price_cents
         FROM lineitem GROUP BY 1 ORDER BY 1"""),
    // q176/q177: the graph-topology family — degree-oriented triangle
    // census with clustering coefficients, and bounded multi-source
    // BFS reach from the heaviest-purchaser seeds. Same co-activity
    // graph as q100/q162 (one edge definition across the family).
    QuerySpec("q176_triangles", GraphTopology.triangleQuery,
      GraphTopology.triangleOracleSql),
    QuerySpec("q177_bfs_reach", GraphTopology.bfsQuery,
      GraphTopology.bfsOracleSql),
    // q178: schema evolution under oracle check — two write epochs
    // (one pre-dating the lang/source columns), one mergeSchema scan,
    // nulls folded to a sentinel and matched against the original.
    // the oracle replays the epoch rule over the ORIGINAL documents;
    // equality proves the mergeSchema union nulls exactly epoch 1
    QuerySpec("q178_evolution", Extensions.q178EvolutionRoundtrip,
      """SELECT CASE WHEN doc_id % 2 = 0 THEN 'pre_schema' ELSE lang END
           AS lang,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(n_chars) AS BIGINT) AS chars,
         CAST(count(*) FILTER (WHERE doc_id % 2 = 1) AS BIGINT)
           AS with_source
         FROM documents GROUP BY 1 ORDER BY 1"""),
    // q179: model-eval metrics — confusion-derived per-class
    // precision/recall/F1 over a deterministic argmax stand-in
    // classifier (the metric arithmetic is what's certified).
    QuerySpec("q179_classifier_eval", ModelEval.classifierEvalQuery,
      ModelEval.classifierEvalOracleSql),
    // q180: the ZIP extraction scanner under oracle check — TSV parts
    // packaged as quarter-style archives, read back through the
    // distributed readZipTsv+typed ingest path.
    // same oracle as q175: both round-trips must reproduce the same
    // aggregate of the ORIGINAL lineitem through different scanners
    QuerySpec("q180_zip_roundtrip", Extensions.q180ZipRoundtrip,
      """SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(l_orderkey) AS BIGINT) AS key_sum,
         CAST(round(sum(CAST(l_quantity AS DECIMAL(38,10))), 2) * 100 AS BIGINT) AS qty_cents,
         CAST(round(sum(CAST(l_extendedprice AS DECIMAL(38,10))), 2) * 100 AS BIGINT) AS price_cents
         FROM lineitem GROUP BY 1 ORDER BY 1"""),
    // q181: KMV bottom-k audience sketches + sketch-only union/Jaccard
    // set algebra, exact baselines alongside (custom bounded-buffer
    // TypedImperativeAggregate; the set-algebra sketch beside
    // CMS/HLL/AGMS).
    QuerySpec("q181_kmv_jaccard",
      (s, d) => DistinctSketch.kmvJaccardQuery(s, d),
      DistinctSketch.kmvJaccardOracleSql,
      fastHash = Some((s, d) => DistinctSketch.kmvJaccardQuery(s, d,
        portable = false))),
    // q182: quantile sketch — mergeable hash-sample quantile estimates
    // self-adjudicated against exact ranks (the quantile member of the
    // sketch family; q150's report shape applied to rank error).
    QuerySpec("q182_quantile_sketch", QuantileSketch.quantileSketchQuery,
      QuantileSketch.quantileSketchOracleSql(),
      fastHash = Some((s, d) =>
        QuantileSketch.quantileSketch(Tables.events(s, d), portable = false))),
    // q183: leakage-safe split — q44's content-hash split lifted to
    // dup-CLUSTER granularity: near-dup families are atomically
    // train/val/test (decontamination-by-construction).
    // same cluster CTE as q45/q161, split by the portable hash
    // of the CLUSTER id — the oracle proves both the clustering and
    // the atomic per-cluster assignment.
    QuerySpec("q183_leakage_split", (s, d) => {
      val docs = Tables.documents(s, d)
      PrepPipeline.leakageSafeSplit(
        docs, Extensions.dupPairs(docs))
    },
      (dupClusterCte +
      """ SELECT doc_id, cluster_id,
         CAST(('0x' || substr(md5(CAST(cluster_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 AS bucket,
         CASE WHEN CAST(('0x' || substr(md5(CAST(cluster_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 < 90 THEN 'train'
              WHEN CAST(('0x' || substr(md5(CAST(cluster_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 < 95 THEN 'val'
              ELSE 'test' END AS split
         FROM lab ORDER BY doc_id""")),
    // q184/q185: ranking metrics from ONE score histogram — tie-
    // corrected Mann-Whitney AUC (integral 2U arithmetic) and the
    // per-threshold ROC curve.
    QuerySpec("q184_auc", ModelEval.aucQuery, ModelEval.aucOracleSql),
    QuerySpec("q185_roc_curve", ModelEval.rocCurveQuery,
      ModelEval.rocCurveOracleSql),
    // q186-q188: the rest of the ranking-eval family off the same
    // histogram — precision-recall curve, integral average precision,
    // and the reliability (calibration) table.
    QuerySpec("q186_pr_curve", ModelEval.prCurveQuery,
      ModelEval.prCurveOracleSql),
    QuerySpec("q187_avg_precision", ModelEval.avgPrecisionQuery,
      ModelEval.avgPrecisionOracleSql),
    QuerySpec("q188_calibration", ModelEval.calibrationQuery,
      ModelEval.calibrationOracleSql),
    // q189/q190: order-invariant per-partition content digests and
    // the snapshot-drift detection they enable (find the touched
    // day-partitions without a row-level diff).
    QuerySpec("q189_partition_digest", Maintenance.partitionDigestQuery,
      Maintenance.partitionDigestOracleSql),
    QuerySpec("q190_partition_drift", Maintenance.partitionDriftQuery,
      Maintenance.partitionDriftOracleSql),
    // q191: IVM under retractions — signed-multiplicity delta merged
    // onto stored partials equals the post-delete full recompute
    // (completes q113's append-only maintenance).
    QuerySpec("q191_ivm_retract", OlapOps.ivmRetractQuery,
      OlapOps.ivmRetractOracleSql),
    // q192: the composed curation manifest — gates → near-dup
    // clusters → leakage-safe split → per-split release rollup, one
    // job; the hash certifies the COMPOSITION of q39/q45/q183.
    // the gating chain feeds the clustering chain, the split is
    // the q183 hash-of-cluster rule, and the manifest rolls up per
    // split — all from the shared CTE helpers, so the oracle can
    // only drift if the composed semantics do.
    QuerySpec("q192_curation_manifest",
      (s, d) => PrepPipeline.curationManifestQuery(s, d),
      (s"""WITH RECURSIVE $gatedDocsCtes,
         """ + dupClusterCtesOver("gated") + s""",
         sp AS (SELECT doc_id, cluster_id,
           CASE WHEN CAST(('0x' || substr(md5(CAST(cluster_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 < 90 THEN 'train'
                WHEN CAST(('0x' || substr(md5(CAST(cluster_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 < 95 THEN 'val'
                ELSE 'test' END AS split
           FROM lab)
         SELECT sp.split, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT sp.cluster_id) AS BIGINT) AS n_clusters,
           CAST(sum(g.n_words) AS BIGINT) AS words
         FROM sp JOIN gated g ON sp.doc_id = g.doc_id
         GROUP BY 1 ORDER BY 1""")),
    // q193: Hilbert-curve layout stats (q54's twin) — aligned buckets
    // are exact quadrants, so locality is bounded by construction.
    QuerySpec("q193_hilbert", ZOrder.hilbertQuery, ZOrder.hilbertOracleSql),
    // q194: k-core decomposition by bounded iterative peeling — the
    // coreness community filter (completes the graph family).
    QuerySpec("q194_kcore", GraphTopology.kcoreQuery,
      GraphTopology.kcoreOracleSql),
    // q195: sliding trailing-7-day distinct registers for every day,
    // derived from daily partials alone (the windowed-serving payoff
    // of sketch mergeability; q160 extended to the full series).
    QuerySpec("q195_sliding_registers", DistinctSketch.slidingRegistersQuery,
      DistinctSketch.slidingRegistersOracleSql),
    // q196: weighted quantiles per stratum — q119's blocked
    // cumulative-weight median generalized to a probe set.
    QuerySpec("q196_weighted_quantiles", OlapOps.weightedQuantilesQuery,
      OlapOps.weightedQuantilesOracleSql),
    // q197: winsorized (clamped-to-[p05,p95]) robust mean per stratum.
    QuerySpec("q197_winsorized_mean", OlapOps.winsorizedMeanQuery,
      OlapOps.winsorizedMeanOracleSql),
    // q198: quoted-CSV scanner round-trip with injected delimiters,
    // quotes, and in-field newlines (the dialect path q175 can't hit).
    // aggregates recomputed from the ORIGINAL documents with
    // the same injected payload — the scanner must lose nothing.
    QuerySpec("q198_csv_roundtrip", Extensions.q198CsvRoundtrip,
      """WITH p AS (SELECT doc_id, lang,
           text || ',"' || chr(10) || '|' || source AS payload
         FROM documents)
       SELECT lang, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(doc_id) AS BIGINT) AS id_sum,
         CAST(sum(length(payload)) AS BIGINT) AS len_sum,
         CAST(sum(CAST(('0x' || substr(md5(payload), 1, 15)) AS BIGINT)
           % 2147483647) AS BIGINT) AS hash_sum
       FROM p GROUP BY 1 ORDER BY 1"""),
    // q199: the Markov model evaluated — holdout next-event top-1
    // accuracy per prev state (closes the q126 loop).
    QuerySpec("q199_markov_eval", Sessionize.markovEvalQuery,
      Sessionize.markovEvalOracleSql),
    // q200: temperature-flattened (alpha = 0.5) source mixing shares.
    QuerySpec("q200_temperature_mix",
      (s, d) => Curation.temperatureMix(Tables.documents(s, d)),
      Curation.temperatureMixOracleSql),
    // q201: index-accelerated substring search — trigram-index probe
    // + LIKE verification (the pg_trgm rewrite, relationally).
    QuerySpec("q201_trigram_like", CorpusStats.trigramLikeQuery,
      CorpusStats.trigramLikeOracleSql),
    // q202: sorted-neighborhood near-dup pairs — the sort-based
    // blocking family beside the inverted index and LSH (linear
    // candidate volume by construction).
    QuerySpec("q202_sorted_neighborhood",
      (s, d) => Dedup.sortedNeighborhoodPairs(Tables.documents(s, d)),
      Dedup.sortedNeighborhoodOracleSql()),
    // q203: label-noise suspects by exact k-NN disagreement (the
    // confident-learning pre-training pass; LSH/IVF is the scale
    // path for the candidate set, the voting is unchanged).
    QuerySpec("q203_label_noise", Similarity.labelNoiseQuery,
      Similarity.labelNoiseOracleSql()),
    // q204: hard-example mining — per anchor the hardest negative /
    // positive and the triplet margin (contrastive batch construction).
    QuerySpec("q204_hard_negatives", Similarity.hardNegativesQuery,
      Similarity.hardNegativesOracleSql),
    // q205: per-class centroid drift between two snapshots — integer
    // L1 in quantized units, no floating centroid ever materialized.
    QuerySpec("q205_centroid_drift", Similarity.centroidDriftQuery,
      Similarity.centroidDriftOracleSql),
    // q206: earth-mover drift between snapshot halves — gap-weighted
    // CDF differences (the transport metric q123's TVD misses).
    QuerySpec("q206_emd_drift",
      (s, d) => Curation.driftEmdQuery(Tables.documents(s, d)),
      Curation.driftEmdOracleSql),
    // q207: burst detection — daily counts vs the trailing-7 baseline
    // with integer doubling/halving alerts (today never dilutes its
    // own baseline).
    QuerySpec("q207_burst_detect", OlapOps.burstDetectQuery,
      OlapOps.burstDetectOracleSql),
    // q208: incremental cluster assignment — the new batch joins the
    // STORED clusters by min matched label, no corpus re-clustering.
    // old-corpus clusters (the stored table) + all-corpus pairs
    // filtered to the straddle set + min-label assignment.
    QuerySpec("q208_incremental_clusters", Extensions.q208IncrementalClusters,
      ("""WITH RECURSIVE old_docs AS
           (SELECT * FROM documents WHERE doc_id % 5 <> 4),
         """ + dupClusterCtesOver("old_docs") + ",\n" +
        jaccardPairCtes("documents", "2") + """,
         str AS (SELECT
             CASE WHEN d1 % 5 = 4 THEN d1 ELSE d2 END AS new_id,
             CASE WHEN d1 % 5 = 4 THEN d2 ELSE d1 END AS old_id
           FROM pairs2 WHERE (d1 % 5 = 4) <> (d2 % 5 = 4)),
         asg AS (SELECT new_id, min(l.cluster_id) AS cid,
             CAST(count(*) AS BIGINT) AS n_matches
           FROM str JOIN lab l ON l.doc_id = str.old_id GROUP BY 1)
       SELECT d.doc_id, coalesce(a.cid, d.doc_id) AS cluster_id,
         CAST(coalesce(a.n_matches, 0) AS BIGINT) AS n_matches
       FROM documents d LEFT JOIN asg a ON a.new_id = d.doc_id
       WHERE d.doc_id % 5 = 4 ORDER BY d.doc_id""")),
    // q209: dedup method comparison — pair yield and doc coverage of
    // the three blocking families on the same corpus.
    // the three pair sets re-derived from their proven chains,
    // summarized side by side. The sorted-neighborhood CTEs come from
    // [[snPairCtes]], which interpolates Dedup.SnWindow /
    // Dedup.SnThresholdE6 so changing either constant cannot desync
    // this oracle from the query (same discipline as the q202 oracle).
    QuerySpec("q209_dedup_method_compare", Extensions.q209DedupMethodCompare,
      ("WITH " + jaccardPairCtes("documents", "2") + s""",
         $snPairCtes,
         exg AS (SELECT md5(text) AS f, count(*) AS g FROM documents
                 GROUP BY 1 HAVING count(*) > 1)
       SELECT 'exact' AS method,
         CAST(coalesce(sum(g * (g - 1) // 2), 0) AS BIGINT) AS n_pairs,
         CAST(coalesce(sum(g), 0) AS BIGINT) AS n_docs
       FROM exg
       UNION ALL
       SELECT 'jaccard_index',
         (SELECT CAST(count(*) AS BIGINT) FROM pairs2),
         (SELECT CAST(count(DISTINCT u) AS BIGINT) FROM
           (SELECT d1 AS u FROM pairs2 UNION SELECT d2 FROM pairs2))
       UNION ALL
       SELECT 'sorted_neighborhood',
         (SELECT CAST(count(*) AS BIGINT) FROM snp),
         (SELECT CAST(count(DISTINCT u) AS BIGINT) FROM
           (SELECT d1 AS u FROM snp UNION SELECT d2 FROM snp))
       ORDER BY method""")),
    // q210: q203's voting over LSH-blocked candidates — the 100 TB
    // shape (shuffle on bucket, no corpus broadcast, no all-pairs).
    QuerySpec("q210_label_noise_lsh", Similarity.labelNoiseLshQuery,
      Similarity.labelNoiseLshOracleSql()),
    // q211: q204's argmins over the same blocked candidate frame.
    QuerySpec("q211_hard_negatives_lsh", Similarity.hardNegativesLshQuery,
      Similarity.hardNegativesLshOracleSql()),
    // q212: the blocking faithfulness report — candidate-pair recall
    // vs the exact top-k set + suspect agreement (the q150 discipline
    // applied to the kNN-voting family).
    QuerySpec("q212_knn_block_recall", Similarity.knnBlockRecallQuery,
      Similarity.knnBlockRecallOracleSql()),
    // q213: S14 table introspection as a checked query — schema rows
    // (canonical engine-neutral types) + deterministic key-ordered
    // sample, both through the serving route's tableInfo pair.
    QuerySpec("q213_table_info", SecServing.tableInfoQuery,
      SecServing.tableInfoOracleSql),
    // q214: blocking fidelity for the argmin family — same neg/pos
    // extremes as exhaustive, per-anchor, plus the e6 error mass.
    QuerySpec("q214_hard_negative_fidelity",
      Similarity.hardNegativeFidelityQuery,
      Similarity.hardNegativeFidelityOracleSql()),
    // q215: the sketch cube — one finest-grain register table serves
    // the whole grouping-set lattice by metadata-scale max-merge.
    QuerySpec("q215_sketch_cube", DistinctSketch.rollupRegistersQuery,
      DistinctSketch.rollupRegistersOracleSql),
    // q216: product-quantization ADC top-k — candidates scored only
    // through their codes + the query LUT (the third ANN family).
    QuerySpec("q216_pq_topk", ProductQuant.pqTopKQuery,
      ProductQuant.pqTopKOracleSql()),
    // q217: PQ recall vs the exact ranking on the same integer grid.
    QuerySpec("q217_pq_recall", ProductQuant.pqRecallQuery,
      ProductQuant.pqRecallOracleSql()),
    // q218: streaming ingest-dedup, oracle-checked — doubled corpus
    // drained through the stateful dedup; every fp survives once.
    QuerySpec("q218_stream_dedup", DocStream.streamDedupQuery,
      DocStream.streamDedupOracleSql,
      readBack = Some((DocStream.sinkSchema, DocStream.readBack _))),
    // q219: reciprocal-rank fusion of the three ANN families' top-k
    // lists (LSH + IVF + PQ) with integer RRF scores.
    QuerySpec("q219_rank_fusion", Similarity.rankFusionQuery,
      Similarity.rankFusionOracleSql()),
    // q220: per-type CUSUM changepoint detection — the sustained
    // level-shift complement to q207's spike rule, all integer.
    QuerySpec("q220_cusum", OlapOps.cusumQuery, OlapOps.cusumOracleSql),
    // q221: resource-allocation link prediction — top non-adjacent
    // pairs by Σ 1e6 div deg(w) over common neighbors (the no-log
    // member of the common-neighbors family, integer-exact).
    QuerySpec("q221_link_prediction", GraphTopology.linkPredictionQuery,
      GraphTopology.linkPredictionOracleSql),
    // q222: n-gram test-set contamination audit — fraction of each
    // held-out doc's distinct 5-grams present anywhere in the train
    // split (the GPT-3 App. C decontamination rule, integer-exact).
    QuerySpec("q222_ngram_contamination", CorpusStats.contaminationQuery,
      CorpusStats.contaminationOracleSql),
    // q223: BM25 ranked retrieval — Okapi tf-saturation and length
    // normalization as exact integer rationals; only the term-level
    // idf touches doubles (round-6/truncate quantized).
    QuerySpec("q223_bm25", Retrieval.bm25Query, Retrieval.bm25OracleSql),
    // q224: blocking-family agreement matrix — pairwise overlap and
    // pair-set Jaccard of the three near-dup methods (q209's counts
    // extended to their set algebra).
    // blocking-family AGREEMENT MATRIX — q209 counts each pair
    // set; this measures how much they overlap: for every unordered
    // pair of the three near-dup methods (the capped shingle inverted
    // index of q23, the portable MinHash+LSH of q24, the
    // sorted-neighborhood window of q202), the two set sizes, the
    // intersection, and the Jaccard of the PAIR SETS themselves as an
    // e6 integer. The decision evidence behind "are these methods
    // finding the same duplicates or different ones": high agreement
    // means the cheap method substitutes for the expensive one; low
    // agreement means they block on genuinely different signals and a
    // pipeline should union them. Each chain is individually
    // oracle-proven; this certifies their set algebra.
    // Scale shape: each pair set is materialized once (the q209
    // pattern), intersections are (d1, d2)-keyed left-semi joins —
    // pair-set-sized, never corpus-sized; the six summary counts are
    // single-row frames crossed by broadcast.
    // the three pair chains (inverted index, portable MinHash,
    // sorted neighborhood) in one WITH clause, intersected pairwise.
    // All from the shared CTE helpers, so the oracle can only drift
    // if the chains' semantics do.
    QuerySpec("q224_dedup_agreement",
      (s, d) => Extensions.dedupAgreement(Tables.documents(s, d)),
      ("WITH " + jaccardPairCtes("documents", "2") + s""",
         $minHashCtePrefix,
         mhcand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
                    FROM bands a JOIN bands b
                    ON a.band = b.band AND a.k = b.k
                      AND a.doc_id < b.doc_id),
         mh AS (SELECT d1, d2 FROM
                  (SELECT d1, d2, ($minHashEqSum) AS cnt
                   FROM mhcand JOIN sig s1 ON d1 = s1.doc_id
                   JOIN sig s2 ON d2 = s2.doc_id)
                WHERE cnt / 64.0 >= 0.5),
         $snPairCtes,
         ji AS (SELECT d1, d2 FROM pairs2),
         a1 AS (SELECT
             (SELECT CAST(count(*) AS BIGINT) FROM ji) AS n_a,
             (SELECT CAST(count(*) AS BIGINT) FROM mh) AS n_b,
             (SELECT CAST(count(*) AS BIGINT)
              FROM ji JOIN mh USING (d1, d2)) AS n_common),
         a2 AS (SELECT
             (SELECT CAST(count(*) AS BIGINT) FROM ji) AS n_a,
             (SELECT CAST(count(*) AS BIGINT) FROM snp) AS n_b,
             (SELECT CAST(count(*) AS BIGINT)
              FROM ji JOIN snp USING (d1, d2)) AS n_common),
         a3 AS (SELECT
             (SELECT CAST(count(*) AS BIGINT) FROM mh) AS n_a,
             (SELECT CAST(count(*) AS BIGINT) FROM snp) AS n_b,
             (SELECT CAST(count(*) AS BIGINT)
              FROM mh JOIN snp USING (d1, d2)) AS n_common)
       SELECT 'jaccard_index' AS method_a, 'minhash_lsh' AS method_b,
         n_a, n_b, n_common,
         CAST(n_common * 1000000 // greatest(n_a + n_b - n_common, 1)
           AS BIGINT) AS agreement_e6 FROM a1
       UNION ALL
       SELECT 'jaccard_index', 'sorted_neighborhood',
         n_a, n_b, n_common,
         CAST(n_common * 1000000 // greatest(n_a + n_b - n_common, 1)
           AS BIGINT) FROM a2
       UNION ALL
       SELECT 'minhash_lsh', 'sorted_neighborhood',
         n_a, n_b, n_common,
         CAST(n_common * 1000000 // greatest(n_a + n_b - n_common, 1)
           AS BIGINT) FROM a3
       ORDER BY method_a, method_b""")),
    // q225: prefix-filtered set-similarity join (PPJoin family) —
    // the lossless fourth blocking family; its oracle is the UNCAPPED
    // exact threshold join, so the hash-match certifies the
    // losslessness theorem itself.
    QuerySpec("q225_ppjoin",
      (s, d) => Dedup.ppjoinPairs(Tables.documents(s, d)),
      Dedup.ppjoinOracleSql()),
    // q226: time-respecting earliest-arrival reachability — q177's
    // BFS with causally-valid paths only (edge usable iff its hour
    // >= the source's arrival), bounded min-arrival rounds.
    QuerySpec("q226_temporal_reach", GraphTopology.temporalReachQuery,
      GraphTopology.temporalReachOracleSql),
    // q227: communities by deterministic synchronous label
    // propagation (mode-of-neighbors, min-label ties, bounded
    // rounds) — the dense-core complement to q45's connectivity.
    QuerySpec("q227_lpa_communities", GraphTopology.labelPropagationQuery,
      GraphTopology.labelPropagationOracleSql),
    // q228: dimension-truncation fidelity — recall@k of prefix-width
    // cosine rankings vs the full-width exact ranking (the
    // Matryoshka-serving report; q150/q217's discipline on the
    // truncation axis).
    QuerySpec("q228_trunc_recall", Similarity.truncationRecallQuery,
      Similarity.truncationRecallOracleSql),
    // q229: the watermarked stream-stream interval join driven to a
    // hash-checked answer (single-batch drain = complete result; the
    // batch interval join is the oracle).
    QuerySpec("q229_stream_join", StreamJoin.streamJoinQuery,
      StreamJoin.streamJoinOracleSql,
      readBack = Some((StreamJoin.joinSinkSchema, StreamJoin.joinReadBack _))),
    // q230: graph feature propagation — activity features smoothed
    // by bounded neighbor-mean rounds (the SGC/GraphSAGE-mean
    // primitive in exact integer arithmetic).
    QuerySpec("q230_feature_prop", GraphTopology.featurePropagationQuery,
      GraphTopology.featurePropagationOracleSql),
    // q231: weighted PageRank — q100 with mass split by tie strength
    // (shared-cell counts) over the co-activity multigraph.
    QuerySpec("q231_weighted_pagerank",
      (s, d) => GraphRank.weightedPageRankQuery(s, d),
      GraphRank.weightedPageRankOracleSql),
    // q232: union-dedup keeper map — connected components over the
    // UNION of all four blocking families' pair sets; the
    // per-document keeper verdict a dedup stage applies.
    // the four pair chains unioned, then the q45 recursive
    // component labeling over the combined edge set. The uncapped
    // prefix-join pairs re-derive from the suffix-2 shingle CTE
    // (no df cap), the exact groups link to their min doc, and the
    // sorted-neighborhood CTEs come from the shared helper.
    QuerySpec("q232_union_dedup", Extensions.q232UnionDedup,
      ("WITH RECURSIVE " + jaccardPairCtes("documents", "2") + s""",
         $snPairCtes,
         exg AS (SELECT mn AS d1, doc_id AS d2 FROM (
             SELECT doc_id,
               min(doc_id) OVER (PARTITION BY md5(text)) AS mn
             FROM documents)
           WHERE doc_id <> mn),
         exall AS (SELECT doc_id, unnest(shingles) AS s FROM sh2),
         ia AS (SELECT a.doc_id AS d1, b.doc_id AS d2,
               CAST(count(*) AS BIGINT) AS c
             FROM exall a JOIN exall b
               ON a.s = b.s AND a.doc_id < b.doc_id
             GROUP BY 1, 2),
         pp AS (SELECT d1, d2 FROM ia
             JOIN sizes2 s1 ON d1 = s1.doc_id
             JOIN sizes2 s2 ON d2 = s2.doc_id
             WHERE c * 1000000 // greatest(s1.n + s2.n - c, 1)
               >= ${graft.operators.Dedup.PpThresholdE6}),
         allp AS (SELECT d1, d2 FROM pairs2
                  UNION SELECT d1, d2 FROM snp
                  UNION SELECT d1, d2 FROM exg
                  UNION SELECT d1, d2 FROM pp),
         edges AS (SELECT d1 AS a, d2 AS b FROM allp
                   UNION SELECT d2, d1 FROM allp),
         reach(a, b) AS (
           SELECT a, b FROM edges
           UNION
           SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
         comp AS (SELECT a AS doc_id, min(b) AS mn FROM reach GROUP BY a),
         lab AS (SELECT d.doc_id,
                   coalesce(least(c.mn, d.doc_id), d.doc_id) AS cluster_id
                 FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id)
       SELECT doc_id, cluster_id,
         CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT)
           AS cluster_size,
         CAST(CASE WHEN doc_id = cluster_id THEN 1 ELSE 0 END AS INT)
           AS is_canonical
       FROM lab ORDER BY doc_id""")),
    // q233: Gopher-style within-document repetition gate — top
    // unigram/bigram shares and duplicate-trigram fraction in ppm,
    // with the documented keep thresholds.
    QuerySpec("q233_repetition_filter",
      (s, d) => RepetitionFilter.repetitionQuery(s, d),
      RepetitionFilter.repetitionOracleSql),
    // q234: deterministic content-hash sampling balancing the
    // language strata — the reproducible class-balancing step.
    QuerySpec("q234_balanced_sample",
      (s, d) => Sampling.balancedSampleQuery(s, d),
      Sampling.balancedSampleOracleSql),
    // q235: cross-document shared-span coverage (Lee et al. exact-
    // substring dedup signal) — per-doc tokens covered by any
    // 5-gram appearing verbatim in another document.
    QuerySpec("q235_shared_spans",
      (s, d) => RepetitionFilter.sharedSpanQuery(s, d),
      RepetitionFilter.sharedSpanOracleSql),
    // q236: exact-budget largest-remainder quota manifest over the
    // q200 temperature weights, filled by md5 rank per source.
    QuerySpec("q236_quota_manifest",
      (s, d) => Sampling.quotaManifestQuery(s, d),
      Sampling.quotaManifestOracleSql),
    // q237: concat-and-split context-window assignment per source
    // shard — start window, offset, span, split flag per document.
    QuerySpec("q237_context_windows",
      (s, d) => Packing.contextWindowsQuery(s, d),
      Packing.contextWindowsOracleSql),
    // q238: the STREAMING packer — per-source running offsets carried
    // in keyed state across micro-batches; the batch q237 arithmetic
    // is the oracle for the drained stream (q218/q229 discipline).
    // the drained stateful stream must reproduce the batch
    // packing arithmetic exactly — same oracle as q237.
    QuerySpec("q238_stream_packing",
      (s, d) => PackStream.streamPackingQuery(s, d),
      Packing.contextWindowsOracleSql,
      readBack = Some((PackStream.sinkSchema, PackStream.readBack _))),
    // q239: per-source boilerplate coverage (the C4 repeated-lines
    // rule) — grams occurring in a large fraction of one source's
    // docs, and the per-doc token mass a strip would remove.
    QuerySpec("q239_boilerplate",
      (s, d) => RepetitionFilter.boilerplateQuery(s, d),
      RepetitionFilter.boilerplateOracleSql),
    // q240: the bucketed co-located join driven write→catalog→
    // bucketed-read→merge-join→aggregate; the shuffle-elision layout
    // discipline as an oracle-checked round-trip (q170's pattern).
    QuerySpec("q240_bucketed_join",
      (s, d) => JoinStrategies.bucketedRevenueQuery(s, d),
      JoinStrategies.bucketedRevenueOracleSql),
    // q241: Zipf rank-frequency constancy by decimal-magnitude rank
    // band — the corpus-mix diagnostic (flat mean rank×freq = Zipfian).
    QuerySpec("q241_zipf_bands", (s, d) => TextAnalysis.zipfQuery(s, d),
      TextAnalysis.zipfOracleSql),
    // q242: Heaps-law vocabulary growth per corpus decile — one
    // first-occurrence pass, not ten prefix distincts.
    QuerySpec("q242_heaps_growth", (s, d) => TextAnalysis.heapsQuery(s, d),
      TextAnalysis.heapsOracleSql),
    // q243: watermark LATE-DATA accounting — three staged arrival
    // waves with deterministic stragglers; the oracle replays the
    // accept/late-drop/close-emit lifecycle from the batch table
    // (the one streaming semantic q145/q218/q229/q238 never late).
    // the watermark lifecycle replayed in SQL — per-wave max
    // event time, drop-late against prior waves' watermark, emit
    // against the final watermark.
    QuerySpec("q243_late_audit", (s, d) => LateStream.lateAuditQuery(s, d),
      LateStream.lateAuditOracleSql,
      readBack = Some((LateStream.sinkSchema, LateStream.readBack _))),
    // q244: the BUILT-IN session_window operator (state-store-backed
    // gap sessions, touch-merge boundary, end = last + gap) drained
    // across a two-wave split so sessions must merge across batches;
    // the custom flatMapGroupsWithState sessionizer (q46 twin) covers
    // the beyond-gap semantics, this covers the engine-native path.
    // inclusive-gap sessions per user, end = last + gap,
    // emitted iff closed by the final watermark.
    QuerySpec("q244_session_window",
      (s, d) => SessionStream.sessionWindowQuery(s, d),
      SessionStream.sessionWindowOracleSql,
      readBack = Some((SessionStream.sinkSchema, SessionStream.readBack _))),
    // q245: single-pass piggybacked QC metrics — gate → observe →
    // parquet write in ONE action; the returned row is what the
    // write's own tasks accumulated (CollectMetricsExec), no second
    // scan. The oracle recomputes the aggregates the expensive way.
    QuerySpec("q245_observed_qc",
      (s, d) => ObservedMetrics.observedWriteQuery(s, d),
      ObservedMetrics.observedWriteOracleSql),
    // q246: per-user power-of-two milestone crossings via the Spark 4
    // transformWithState API on the RocksDB state store — named state
    // primitives instead of one encoded blob per key, the state
    // backend that survives keyed state larger than executor memory.
    // per-user row_number over (ms, event_id) kept at powers of
    // two — any lost or double-counted row across batches breaks it.
    QuerySpec("q246_milestones", (s, d) => MilestoneStream.milestoneQuery(s, d),
      MilestoneStream.milestoneOracleSql,
      readBack = Some((MilestoneStream.sinkSchema,
        MilestoneStream.readBack _))),
    // q247: the ORC sink + pushdown read-back (q170's round-trip
    // discipline on the second columnar format).
    // the oracle filters+aggregates the ORIGINAL lineitem; the Spark
    // side filters its ORC round-trip through pushed predicates.
    QuerySpec("q247_orc_roundtrip", Extensions.q247OrcRoundtrip,
      """SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(l_orderkey) AS BIGINT) AS key_sum,
         CAST(round(sum(CAST(l_extendedprice AS DECIMAL(38,10))), 2) * 100 AS BIGINT) AS total_cents
         FROM lineitem WHERE l_quantity >= 25.0
         GROUP BY 1 ORDER BY 1"""),
    // q248: the UNTYPED document route — Spark VARIANT standing in
    // for the reference's Snowflake raw_json, flattened by path to
    // exactly q166's typed view (same oracle).
    // q248 re-derives the SAME view through the untyped VARIANT
    // route — equality against the same oracle is the claim.
    QuerySpec("q248_variant_flatten", q248VariantFlatten, flattenViewOracleSql),
    // q249: the XML sink + schema'd load (q171's fidelity discipline
    // on the markup format — element escaping must round-trip).
    // the oracle aggregates the ORIGINAL documents; the Spark side
    // aggregates its XML write → schema'd read round-trip (q171's
    // shape on the markup format).
    QuerySpec("q249_xml_roundtrip", Extensions.q249XmlRoundtrip,
      """SELECT lang, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(length(text)) AS BIGINT) AS text_len,
         CAST(sum(n_chars) AS BIGINT) AS chars
         FROM documents GROUP BY 1 ORDER BY 1"""),
    // q250: idle-close per-user summaries via transformWithState
    // EVENT-TIME TIMERS + MapState on RocksDB — the push-based "key
    // went quiet" primitive (q246's sibling on the timer surface).
    // a user emits exactly once iff last event + idle passed
    // the final watermark; rows are total per-type counts.
    QuerySpec("q250_idle_close", (s, d) => IdleCloseStream.idleCloseQuery(s, d),
      IdleCloseStream.idleCloseOracleSql,
      readBack = Some((IdleCloseStream.sinkSchema,
        IdleCloseStream.readBack _))),
    // q251: the LEFT OUTER stream-stream interval join — q229's
    // sibling on the null-completion path (unmatched clicks emit once
    // the watermark proves no purchase can still match).
    QuerySpec("q251_stream_left_join", (s, d) => StreamJoin.leftJoinQuery(s, d),
      StreamJoin.leftJoinOracleSql,
      readBack = Some((StreamJoin.joinSinkSchema,
        StreamJoin.leftJoinReadBack _))),
    // q252: CHAINED stateful operators — the interval join feeding a
    // windowed aggregation in one streaming query (SPARK-42376's
    // multi-stateful support; two state stores, one watermark).
    QuerySpec("q252_join_then_window",
      (s, d) => StreamJoin.joinedWindowQuery(s, d),
      StreamJoin.joinedWindowOracleSql,
      readBack = Some((StreamJoin.joinedWindowSinkSchema,
        StreamJoin.joinedWindowReadBack _))),
    // q253: the foreachBatch UPSERT SINK itself under oracle check —
    // two version-split waves so the second merge must overwrite, the
    // final snapshot equals DuckDB's argmax per user.
    QuerySpec("q253_stream_upsert", (s, d) => UpsertStream.upsertQuery(s, d),
      UpsertStream.upsertOracleSql,
      readBack = Some((UpsertStream.sinkSchema, UpsertStream.readBack _))),
    // q254: the STREAMING funnel drained to the batch funnel's
    // stage-count spine; q63's oracle verbatim.
    // the drained stateful funnel must reproduce the batch
    // funnel counts exactly — same oracle as q63.
    QuerySpec("q254_stream_funnel", (s, d) => FunnelStream.funnelQuery(s, d),
      Sessionize.funnelOracleSql,
      readBack = Some((FunnelStream.sinkSchema, FunnelStream.readBack _))),
    // q255: the rolling-actives stream (chained dropDuplicates →
    // sliding-window count) drained to the watermark-closed WAU
    // curve — the last unit-only streaming surface promoted.
    QuerySpec("q255_stream_actives",
      (s, d) => ActiveUsersStream.activeUsersQuery(s, d),
      ActiveUsersStream.activeUsersOracleSql,
      readBack = Some((ActiveUsersStream.sinkSchema,
        ActiveUsersStream.readBack _))),
    // q256/q257: the two output modes the rest of the streaming
    // family never uses — UPDATE feeding a last-writer-wins keyed
    // merge, COMPLETE feeding a snapshot-overwritten top-K
    // leaderboard (global sort+limit is legal only in complete mode).
    QuerySpec("q256_update_mode",
      (s, d) => UpdateModeStream.updateModeQuery(s, d),
      UpdateModeStream.updateModeOracleSql,
      readBack = Some((UpdateModeStream.updateModeSinkSchema,
        UpdateModeStream.updateModeReadBack _))),
    QuerySpec("q257_complete_topk",
      (s, d) => UpdateModeStream.completeModeQuery(s, d),
      UpdateModeStream.completeModeOracleSql,
      readBack = Some((UpdateModeStream.completeModeSinkSchema,
        UpdateModeStream.completeModeReadBack _))),
    // q258: STREAM-STATIC enrichment — the dimension-attach join a
    // live fact feed needs (broadcast re-planned per micro-batch, no
    // state store), drained over 2 batches to prove the re-attach.
    QuerySpec("q258_stream_static", (s, d) => EnrichStream.enrichedQuery(s, d),
      EnrichStream.enrichedOracleSql,
      readBack = Some((EnrichStream.sinkSchema, EnrichStream.readBack _))),
    // q259: BOUNDED-STATE streaming dedup via
    // dropDuplicatesWithinWatermark — q218's dedup with expiring keys;
    // the staged echo waves exercise suppression AND re-admission, and
    // the drain itself asserts the store stayed below the key history.
    QuerySpec("q259_bounded_dedup",
      (s, d) => BoundedDedupStream.boundedDedupQuery(s, d),
      BoundedDedupStream.boundedDedupOracleSql,
      readBack = Some((BoundedDedupStream.sinkSchema,
        BoundedDedupStream.readBack _))),
    // q260: trailing 30-day per-customer aggregates via a RANGE
    // interval frame (the value-interval window mode; per-key frames).
    QuerySpec("q260_trailing_window",
      (s, d) => OlapOps.trailingWindowQuery(s, d),
      OlapOps.trailingWindowOracleSql),
    // q261: Pareto-frontier (skyline) selection over two quality
    // objectives — running-max reduction vs the oracle's quadratic
    // dominance definition.
    QuerySpec("q261_skyline", (s, d) => Curation.skylineQuery(s, d),
      Curation.skylineOracleSql),
    // q262: hashed bigram feature export (fastText-style buckets) —
    // the sparse-vector feature step before a classifier quality gate.
    // q262's at-scale hash: one xxhash64 per bigram instead of the
    // oracle-portable md5-prefix (TextAnalysis.hashedFeaturesQuery
    // scaladoc names it; bucket-equivalence is NOT expected — the
    // hash changes the buckets — so only the wall time is compared)
    QuerySpec("q262_hashed_features",
      (s, d) => TextAnalysis.hashedFeaturesQuery(s, d),
      TextAnalysis.hashedFeaturesOracleSql,
      fastHash = Some((s, d) => TextAnalysis.hashedFeaturesQuery(s, d,
        portable = false))),
    // q263: incremental aggregate maintenance (IVM) — base table ⊎
    // delta partials merged by key; the oracle recomputes from
    // scratch, certifying the monoid merge loses nothing.
    // not a stream drain, but its registered function eagerly
    // writes the materialized base table when invoked; the audit
    // plans the refresh merge over a stubbed base instead
    QuerySpec("q263_incremental_agg",
      (s, d) => Maintenance.incrementalAggQuery(s, d),
      Maintenance.incrementalAggOracleSql,
      readBack = Some((Maintenance.incrementalAggSinkSchema,
        Maintenance.incrementalAggReadBack _))),
    // q264: per-source distinctive terms by chi-square keyness —
    // exact DECIMAL(38) contingency arithmetic, top-5 per source.
    QuerySpec("q264_keyness", (s, d) => CorpusStats.keynessQuery(s, d),
      CorpusStats.keynessOracleSql),
    // q265: the upsert feed's change-data-feed — per-batch insert/
    // update classification against the pre-merge snapshot, appended
    // to a partitioned CDC log (q253's downstream contract).
    QuerySpec("q265_stream_cdc", (s, d) => UpsertStream.cdcQuery(s, d),
      UpsertStream.cdcOracleSql,
      readBack = Some((UpsertStream.cdcSinkSchema,
        UpsertStream.cdcReadBack _))),
    // q266: typed cogroup reconciliation — both sides' iterators per
    // key, certified against the relational full-outer-join oracle.
    QuerySpec("q266_cogroup_reconcile",
      (s, d) => Reconcile.reconcileQuery(s, d), Reconcile.reconcileOracleSql),
    // q267: ANALYZE-style exact column-stats manifest via one
    // unpivot Expand + one (column, value) aggregation.
    QuerySpec("q267_column_stats", (s, d) => Maintenance.tableStatsQuery(s, d),
      Maintenance.tableStatsOracleSql),
    // q268: rendezvous (HRW) sharding + expansion movement report —
    // the minimal-movement assignment rule, 8->9 shard transition
    // matrix certified against the same-hash argmax oracle.
    QuerySpec("q268_rendezvous_shards",
      (s, d) => Sharding.rendezvousQuery(s, d), Sharding.rendezvousOracleSql),
    // q269: weighted priority sampling (deterministic integer A-ES):
    // bottom-K of hash div weight — the importance-weighted sampler.
    QuerySpec("q269_priority_sample",
      (s, d) => Sampling.prioritySampleQuery(s, d),
      Sampling.prioritySampleOracleSql),
    // q270: inter-arrival burstiness (squared coefficient of
    // variation; exponential gaps => cv2_e6 ~ 1e6) per event type —
    // one exact rational, (n·Σg²−(Σg)²)·1e6 div (Σg)².
    QuerySpec("q270_burstiness", (s, d) => Sessionize.fanoQuery(s, d),
      Sessionize.fanoOracleSql),
    // q271: per-user same-type run detection via transformWithState
    // LIST state (≤2-entry sliding window per key on RocksDB) — the
    // CEP-lite trigger; runs straddling the wave boundary certify
    // cross-batch list carry.
    QuerySpec("q271_type_runs", (s, d) => RunStream.typeRunsQuery(s, d),
      RunStream.typeRunsOracleSql,
      readBack = Some((RunStream.sinkSchema, RunStream.readBack _))),
    // q272: Benford first-digit audit on order totals — the forensic
    // DQ screen; exact cents digits, shared e6 reference literals.
    QuerySpec("q272_benford", (s, d) => DataQuality.benfordQuery(s, d),
      DataQuality.benfordOracleSql),
    // q273: the stream-stream interval join drained across 6
    // watermark-advancing micro-batches — eviction bounds the join
    // buffer (asserted live: peak state < half the staged feed) while
    // the landed result still equals q229's complete batch oracle.
    // the multi-batch eviction drain lands the COMPLETE interval
    // join (see StreamJoin.evictionJoinQuery's completeness argument),
    // so q229's batch oracle applies verbatim.
    QuerySpec("q273_join_eviction",
      (s, d) => StreamJoin.evictionJoinQuery(s, d),
      StreamJoin.streamJoinOracleSql,
      readBack = Some((StreamJoin.joinSinkSchema, StreamJoin.joinReadBack _))),
    // q274: the LEFT OUTER twin of q273 — q251's null-completion
    // semantics across 6 watermark-advancing micro-batches, state
    // shed and mid-drain removal asserted live; q251's batch oracle
    // verbatim (the final min-policy watermark, which alone decides
    // the surviving null set, is drain-cadence-independent).
    // the multi-batch left-outer eviction drain lands the same
    // complete result as q251's single-batch drain (see
    // StreamJoin.evictionLeftJoinQuery), so q251's oracle applies.
    QuerySpec("q274_leftjoin_eviction",
      (s, d) => StreamJoin.evictionLeftJoinQuery(s, d),
      StreamJoin.leftJoinOracleSql,
      readBack = Some((StreamJoin.joinSinkSchema,
        StreamJoin.leftJoinReadBack _))),
    // q275: transformWithState ValueState with a REAL TTL — the
    // per-user cache expires between batches (physical eviction
    // counted via numValuesRemovedDueToTTLExpiry), carried state
    // pinned to 0 by the oracle; TtlStreamSpec's NONE-TTL arm is the
    // contrast.
    QuerySpec("q275_ttl_cache", (s, d) => TtlStream.ttlCacheQuery(s, d),
      TtlStream.ttlCacheOracleSql,
      readBack = Some((TtlStream.sinkSchema, TtlStream.readBack _))),
    // q276: the CDC log's incremental CONSUMER — reconstruct the
    // upsert table and maintain Σver by folding the log's batches in
    // order (+post −pre-image retraction), never scanning the table;
    // certified against the from-scratch argmax oracle.
    QuerySpec("q276_cdc_consumer",
      (s, d) => UpsertStream.cdcConsumerQuery(s, d),
      UpsertStream.cdcConsumerOracleSql,
      readBack = Some((UpsertStream.cdcConsumerSinkSchema,
        UpsertStream.cdcConsumerReadBack _))),
    // q277: the FULL OUTER eviction drain — completes the stream-
    // stream interval-join family (q229/q273 inner, q251/q274 left);
    // both sides' null completions close per watermark advance, the
    // q273 peak bound and q274 mid-drain removal asserted live.
    QuerySpec("q277_fulljoin_eviction",
      (s, d) => StreamJoin.evictionFullJoinQuery(s, d),
      StreamJoin.fullJoinOracleSql,
      readBack = Some((StreamJoin.joinSinkSchema,
        StreamJoin.fullJoinReadBack _))),
    // q278: q244's session_window semantics staged as 6 watermark-
    // advancing waves — open sessions close and leave the store
    // MID-DRAIN (peak < 1/2 staged + mid-drain removal asserted
    // live); q244's batch oracle verbatim (the final watermark is
    // drain-cadence-independent).
    // the multi-batch session-eviction drain lands the same
    // closed-session set as q244's 2-wave drain — one oracle.
    QuerySpec("q278_session_eviction",
      (s, d) => SessionStream.sessionEvictionQuery(s, d),
      SessionStream.sessionWindowOracleSql,
      readBack = Some((SessionStream.sinkSchema, SessionStream.readBack _))),
    // q279: q252's CHAINED join->windowed-agg pipeline staged across
    // 6 watermark-advancing waves — both state stores shed mid-drain
    // (summed peak < 1/2 staged + mid-drain window emission asserted
    // live); q252's batch oracle verbatim.
    // the multi-batch chained drain lands the same closed-
    // window set as q252's 2-batch drain — one oracle.
    QuerySpec("q279_chained_eviction",
      (s, d) => StreamJoin.evictionJoinedWindowQuery(s, d),
      StreamJoin.joinedWindowOracleSql,
      readBack = Some((StreamJoin.joinedWindowSinkSchema,
        StreamJoin.joinedWindowReadBack _))),
    // q280: CDC log COMPACTION — fold batches below the consumer's
    // checkpoint into a committed base, delete the folded partitions,
    // and prove compacted-base + tail folds to the full-log answer
    // (layout, fold identity, and q276's oracle asserted live); the
    // log is bounded to one base + consumer lag.
    // compaction must be semantically invisible to the CDC
    // consumer — q276's from-scratch oracle verbatim.
    QuerySpec("q280_cdc_compaction",
      (s, d) => UpsertStream.cdcCompactionQuery(s, d),
      UpsertStream.cdcCompactionOracleSql,
      readBack = Some((UpsertStream.cdcCompactionSinkSchema,
        UpsertStream.cdcCompactionReadBack _))),
    // q281: q279's chained join->window eviction drain ON ROCKSDB —
    // provider parity for the eviction family's hardest member (two
    // chained stores), same live peak/removal assertions, same
    // oracle; the provider is loaned, never left set on the session.
    // the state-store provider must not change the answer —
    // q252/q279's closed-window oracle verbatim.
    QuerySpec("q281_rocksdb_chained",
      (s, d) => StreamJoin.rocksDbChainedEvictionQuery(s, d),
      StreamJoin.joinedWindowOracleSql,
      readBack = Some((StreamJoin.joinedWindowSinkSchema,
        StreamJoin.joinedWindowReadBack _))),
    // q282: EVENT-TIME TTL via transformWithState timers — q275's TTL
    // semantics made watermark-driven and fully deterministic (lazy
    // expiry check at arrival + timer-driven physical reclamation,
    // resident-state equality asserted live against the in-TTL user
    // set); completes the state-hygiene matrix.
    // the event-time TTL lifecycle replayed relationally over
    // the two-wave schedule.
    QuerySpec("q282_event_ttl", (s, d) => EventTtlStream.eventTtlQuery(s, d),
      EventTtlStream.eventTtlOracleSql,
      readBack = Some((EventTtlStream.sinkSchema, EventTtlStream.readBack _))),
    // q283: TIME TRAVEL on the upsert table — read snapshot v(N-1)
    // next to the current v(N), the as-of query the retention window
    // exists to serve; depth == the retention policy, asserted live.
    // the table as of batch N-1 — the first two waves' argmax.
    QuerySpec("q283_time_travel", (s, d) => UpsertStream.timeTravelQuery(s, d),
      UpsertStream.timeTravelOracleSql,
      readBack = Some((UpsertStream.timeTravelSinkSchema,
        UpsertStream.timeTravelReadBack _))),
    // q284: compaction INTERLEAVED with a live CDC consumer — the
    // consumer applies batch b, the compactor folds <= b, and the
    // spared-batch / bounded-layout / resume-identity claims are
    // asserted at EVERY step of the loop; q276's oracle verbatim.
    // compaction interleaved with the live consumer must not
    // change what the consumer computes — q276's oracle verbatim.
    QuerySpec("q284_live_compaction",
      (s, d) => UpsertStream.liveCompactionQuery(s, d),
      UpsertStream.liveCompactionOracleSql,
      readBack = Some((UpsertStream.liveCompactionSinkSchema,
        UpsertStream.liveCompactionReadBack _))),
    // q285: retention as a PARAMETER (K=3 over four waves — the
    // vacuum fires live at the new boundary) serving depth-2 time
    // travel: read v(N-2), the as-of a K=2 window cannot answer.
    // the table as of batch 1 under a K=3 window over four
    // waves — the first two of four waves' argmax.
    QuerySpec("q285_retention_k", (s, d) => UpsertStream.retentionKQuery(s, d),
      UpsertStream.retentionKOracleSql,
      readBack = Some((UpsertStream.retentionKSinkSchema,
        UpsertStream.retentionKReadBack _))),
    // q286: q278's session-window eviction drain ON ROCKSDB — the
    // provider's read-modify-write path under session merge/split,
    // same live peak/shed assertions, same oracle; provider loaned.
    // the state-store provider must not change the session set
    // — q244/q278's closed-session oracle verbatim.
    QuerySpec("q286_rocksdb_session",
      (s, d) => SessionStream.rocksDbSessionEvictionQuery(s, d),
      SessionStream.sessionWindowOracleSql,
      readBack = Some((SessionStream.sinkSchema, SessionStream.readBack _))),
    // q287: the CDC consumer's OWN state chain bounded — K-window
    // retention on the materialized fold states, with the consumer
    // deriving its position from disk at every step (resume is the
    // only path);
    // q276's oracle verbatim.
    // bounding the consumer's state chain must not change what
    // it computes — q276's oracle verbatim.
    QuerySpec("q287_consumer_retention",
      (s, d) => UpsertStream.consumerRetentionQuery(s, d),
      UpsertStream.consumerRetentionOracleSql,
      readBack = Some((UpsertStream.consumerRetentionSinkSchema,
        UpsertStream.consumerRetentionReadBack _))),
    // q288: grouped INCREMENTAL VIEW MAINTENANCE over the CDC log —
    // per-bucket (count, sum) maintained from ops alone with
    // cross-group retraction (updates move keys between groups via
    // prev_ver), view == from-scratch rollup asserted live; the MV
    // chain runs q287's bounded-storage discipline.
    // the incrementally-maintained grouped view must equal the
    // from-scratch bucket rollup over each user's final version.
    QuerySpec("q288_grouped_ivm", (s, d) => GroupedIvm.groupedIvmQuery(s, d),
      GroupedIvm.groupedIvmOracleSql,
      readBack = Some((GroupedIvm.groupedIvmSinkSchema,
        GroupedIvm.groupedIvmReadBack _))),
    // q289: MERGE with AUTOMATIC SCHEMA EVOLUTION — a keyed upsert
    // whose updates carry a new column widens the table in one
    // single-schema snapshot (old rows null-fill), and the very next
    // merge is back on copy-on-write's touched-files-only fast path
    // (both path proofs asserted live via the returned file counts).
    // the widened-table state — wave<=1 argmax full-outer the
    // wave-2 argmax, updates winning, old rows with NULL channel.
    QuerySpec("q289_evolve_merge", (s, d) => Maintenance.evolveMergeQuery(s, d),
      Maintenance.evolveMergeOracleSql,
      readBack = Some((Maintenance.evolveMergeSinkSchema,
        Maintenance.evolveMergeReadBack _))),
    // q290: keyed POINT LOOKUP through a footer-built skipping index
    // on a key-clustered table — each probe opens <= 2 of 16 files
    // (asserted on the real reads), and the pruned answers equal the
    // plain scan row-for-row.
    // the probed users' argmax rows — skipping must never
    // change an answer.
    QuerySpec("q290_point_lookup", (s, d) => Maintenance.pointLookupQuery(s, d),
      Maintenance.pointLookupOracleSql,
      readBack = Some((Maintenance.pointLookupSinkSchema,
        Maintenance.pointLookupReadBack _))),
    // q291: q288's grouped view maintained INSIDE the live CDC drain
    // (same foreachBatch transaction as the merge + log write) through
    // a disk-position replay guard — effectively-once under
    // at-least-once replays; in-drain view==rollup(<=b) at every
    // commit point.
    // running the fold inside the drain must not change what it
    // computes — q288's oracle verbatim.
    QuerySpec("q291_streaming_ivm",
      (s, d) => GroupedIvm.streamingIvmQuery(s, d),
      GroupedIvm.streamingIvmOracleSql,
      readBack = Some((GroupedIvm.streamingIvmSinkSchema,
        GroupedIvm.streamingIvmReadBack _))),
    // q292: the skip-index LIFECYCLE — maintained incrementally
    // through a copy-on-write merge (copied files inherit their
    // stats, only rewritten files pay a footer read), refresh ==
    // rebuild row-for-row, metadata-only count/min/max == the scan,
    // probes still <=2 files through the refreshed index.
    // the probed users' argmax rows over the merged state (head
    // slice uppercased) — maintaining the index must not change reads.
    QuerySpec("q292_index_refresh",
      (s, d) => Maintenance.indexRefreshQuery(s, d),
      Maintenance.indexRefreshOracleSql,
      readBack = Some((Maintenance.indexRefreshSinkSchema,
        Maintenance.indexRefreshReadBack _))),
    // q293: the snapshot chain as a queryable HISTORY table — one row
    // per retained version, row counts from footers only (metadata
    // cost); the oracle recomputes each version's keyed cardinality
    // from the raw events.
    // each retained version's keyed cardinality from the raw
    // events — snapshot numbering, the merge, and footer counting
    // must agree on what every version holds.
    QuerySpec("q293_table_history",
      (s, d) => UpsertStream.tableHistoryQuery(s, d),
      UpsertStream.tableHistoryOracleSql,
      readBack = Some((UpsertStream.tableHistorySinkSchema,
        UpsertStream.tableHistoryReadBack _))),
  )

  /** Name → frame function, derived from [[specs]]. Built once (as is
    * [[oracleSql]]): a harness looks queries up by name hundreds of
    * times a run. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    specs.map(q => q.name -> q.run).toMap

  /** Name → DuckDB oracle SQL, derived from [[specs]]. */
  lazy val oracleSql: Map[String, String] =
    specs.map(q => q.name -> q.oracle).toMap

  /** §2.11: free-form SQL passthrough (reference backend/main.py:109-134
    * — arbitrary user SQL against the registered warehouse). The canned
    * statement below is written in the dialect-neutral subset shared by
    * Spark and DuckDB and registered as BOTH the query (run VERBATIM
    * through `Tables.registerAll` views + `SecServing.executeSql`) and
    * the oracle entry — so what the hash compare certifies is the
    * passthrough surface itself: parser, analyzer, optimizer, and view
    * catalog produce the same relation a second engine derives from the
    * same text. Decimal-cents output and a total-order ORDER BY per the
    * hash-compare rules.
    */
  private[graft] val q169Sql: String =
    """SELECT n_name AS nation, c_mktsegment AS segment,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(round(sum(CAST(o_totalprice AS DECIMAL(38,10))), 2) * 100 AS BIGINT) AS total_cents
       FROM customer JOIN nation ON c_nationkey = n_nationkey
       JOIN orders ON o_custkey = c_custkey
       GROUP BY 1, 2 ORDER BY 1, 2"""

  private def q169SqlPassthrough(s: SparkSession, d: String): DataFrame = {
    Tables.registerAll(s, d)
    SecServing.executeSql(s, q169Sql)
  }

  /** One oracle for both flatten routes (q166 typed, q248 VARIANT):
    * DuckDB rebuilds the statement view from the documents table. */
  private val flattenViewOracleSql: String =
    """WITH base AS (
         SELECT CAST(doc_id AS VARCHAR) AS adsh, source AS symbol,
           lang AS name,
           [{'label': 'Characters', 'concept': 'n_chars', 'unit': 'chars',
             'value': CAST(n_chars AS DOUBLE)},
            {'label': 'TextLength', 'concept': 'text_len', 'unit': 'chars',
             'value': CAST(length(text) AS DOUBLE)}] AS bs
         FROM documents),
       flat AS (SELECT adsh, symbol, name, unnest(bs) AS e FROM base)
       SELECT adsh, symbol, name, e.label AS label, e.concept AS concept,
         e.unit AS unit, e.value AS value
       FROM flat ORDER BY CAST(adsh AS BIGINT), concept"""

  /** The reference-shaped doc frame both flatten routes share:
    * q166 (typed struct) and q248 (VARIANT). */
  private def docStructFrame(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val entry = "struct<label:string,concept:string,info:string,unit:string,value:double>"
    Tables.documents(s, d).select(
      col("doc_id").cast("string").as("adsh"),
      col("source").as("symbol"),
      col("lang").as("name"),
      struct(
        array(
          struct(lit("Characters").as("label"), lit("n_chars").as("concept"),
            lit("").as("info"), lit("chars").as("unit"),
            col("n_chars").cast("double").as("value")),
          struct(lit("TextLength").as("label"), lit("text_len").as("concept"),
            lit("").as("info"), lit("chars").as("unit"),
            length(col("text")).cast("double").as("value"))
        ).as("bs"),
        array().cast(s"array<$entry>").as("cf"),
        array().cast(s"array<$entry>").as("ic")).as("data"))
  }

  /** F8: `SecJsonDocs.statementView` (the reference's LATERAL FLATTEN,
    * load_json_data_snowflake.py:227-257) run on a docs-shaped frame
    * assembled from the testdata `documents` table, so the explode view
    * itself gets a DuckDB oracle. Values are deterministic per-row
    * fields (no float arithmetic), making the hash compare exact.
    */
  private def q166FlattenView(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    SecJsonDocs.statementView(docStructFrame(s, d), "bs")
      .orderBy(col("adsh").cast("long"), col("concept"))
  }

  private def q248VariantFlatten(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    SecJsonDocs.variantFlattenView(docStructFrame(s, d))
      .orderBy(col("adsh").cast("long"), col("concept"))
  }

  /** P6: membership filter against a top-K set (`Analytics.filterToTopK`,
    * reference streamlit_app.py:281) — lineitem rows whose part is in the
    * top-10 parts by total quantity. Ranking sums run in DECIMAL(38,10)
    * so the top-10 set cannot depend on float summation order.
    */
  private def q167MembershipTopK(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val li = Tables.lineitem(s, d)
      .withColumn("qty_d", col("l_quantity").cast("decimal(38,10)"))
    Analytics.filterToTopK(li, "l_partkey", "qty_d", 10)
      .select(col("l_orderkey"), col("l_partkey"), col("l_linenumber"),
        col("l_quantity"))
      .orderBy(col("l_orderkey"), col("l_partkey"), col("l_linenumber"))
  }

  /** O4: top and bottom K rows by a value column
    * (`Analytics.topAndBottomK`, reference streamlit_app.py:285-287),
    * unioned with a bucket label into one oracle-comparable frame.
    */
  private def q168TopBottomK(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val orders = Tables.orders(s, d)
    val (top, bottom) = Analytics.topAndBottomK(
      orders, "o_totalprice", "o_orderkey", 5)
    top.withColumn("bucket", lit("top"))
      .unionByName(bottom.withColumn("bucket", lit("bottom")))
      .select(col("o_orderkey"), col("o_totalprice"), col("bucket"))
      .orderBy(col("bucket"), col("o_orderkey"))
  }

  /** The q39 gating chain (quality gate → language gate → exact
    * dedup) as CTEs ending in `gated(doc_id, text, n_words, fp)` —
    * shared by the q39 oracle and q192's composed manifest. */
  private val gatedDocsCtes: String =
    """p AS (
           SELECT doc_id, text, ' ' || lower(text) || ' ' AS pt,
             CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_words
           FROM documents),
         s AS (SELECT doc_id, text, n_words,
           CAST((length(pt)-length(replace(pt,' the ','')))/5 AS BIGINT)
          +CAST((length(pt)-length(replace(pt,' and ','')))/5 AS BIGINT)
          +CAST((length(pt)-length(replace(pt,' of ','')))/4 AS BIGINT)
          +CAST((length(pt)-length(replace(pt,' is ','')))/4 AS BIGINT) AS en,
           CAST((length(pt)-length(replace(pt,' le ','')))/4 AS BIGINT)
          +CAST((length(pt)-length(replace(pt,' la ','')))/4 AS BIGINT)
          +CAST((length(pt)-length(replace(pt,' et ','')))/4 AS BIGINT)
          +CAST((length(pt)-length(replace(pt,' les ','')))/5 AS BIGINT) AS fr,
           CAST((length(pt)-length(replace(pt,' el ','')))/4 AS BIGINT)
          +CAST((length(pt)-length(replace(pt,' los ','')))/5 AS BIGINT)
          +CAST((length(pt)-length(replace(pt,' que ','')))/5 AS BIGINT)
          +CAST((length(pt)-length(replace(pt,' y ','')))/3 AS BIGINT) AS es,
           CAST((length(pt)-length(replace(pt,' der ','')))/5 AS BIGINT)
          +CAST((length(pt)-length(replace(pt,' und ','')))/5 AS BIGINT)
          +CAST((length(pt)-length(replace(pt,' die ','')))/5 AS BIGINT)
          +CAST((length(pt)-length(replace(pt,' ist ','')))/5 AS BIGINT) AS de
           FROM p WHERE n_words >= 20),
         gated AS (
           SELECT doc_id, text, n_words,
             md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp
           FROM s WHERE en >= fr AND en >= es AND en >= de
           QUALIFY row_number() OVER (PARTITION BY
             md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')))
             ORDER BY doc_id) = 1)"""

  /** The q45/q161/q183 clustering CTE chain over an arbitrary source
    * relation (q192 threads its gated CTE through the same chain). */
  private def dupClusterCtesOver(rel: String): String =
    s"""sh AS (
           SELECT doc_id, list_distinct(list_transform(
             range(1, greatest(len(string_split_regex(lower(trim(text)), '\\s+')) - 2, 0) + 1),
             i -> array_to_string(string_split_regex(lower(trim(text)), '\\s+')[i:i+2], ' '))) AS shingles
           FROM $rel),""" + dupClusterTail(rel)

  /** Shared CTE prefix of the q45/q161 oracles: q23's capped shingle
    * pairs, the recursive transitive closure, and the per-doc cluster
    * label (`lab`). One definition so the two cluster oracles cannot
    * drift on the clustering itself. */
  private val dupClusterCte: String =
    "WITH RECURSIVE " + dupClusterCtesOver("documents")

  /** Just the pair-generation half of the clustering chain (shingles
    * → capped postings → Jaccard pairs) over `rel`, with a NAME
    * SUFFIX so it can coexist with [[dupClusterCtesOver]] in one
    * WITH clause (q208 needs old-corpus clusters AND all-corpus
    * pairs simultaneously). Same constants as the main chain. */
  private def jaccardPairCtes(rel: String, sfx: String): String =
    s"""sh$sfx AS (
           SELECT doc_id, list_distinct(list_transform(
             range(1, greatest(len(string_split_regex(lower(trim(text)), '\\s+')) - 2, 0) + 1),
             i -> array_to_string(string_split_regex(lower(trim(text)), '\\s+')[i:i+2], ' '))) AS shingles
           FROM $rel),
         ex$sfx AS (SELECT doc_id, s
                FROM (SELECT doc_id, unnest(shingles) AS s FROM sh$sfx)
                QUALIFY count(*) OVER (PARTITION BY s) <= 50),
         sizes$sfx AS (SELECT doc_id, len(shingles) AS n FROM sh$sfx),
         inter$sfx AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS c
                   FROM ex$sfx a JOIN ex$sfx b
                     ON a.s = b.s AND a.doc_id < b.doc_id
                   GROUP BY 1, 2),
         pairs$sfx AS (SELECT d1, d2 FROM inter$sfx
                   JOIN sizes$sfx s1 ON d1 = s1.doc_id
                   JOIN sizes$sfx s2 ON d2 = s2.doc_id
                   WHERE c * 1.0 / (s1.n + s2.n - c) >= 0.6)"""

  private def dupClusterTail(rel: String): String = s"""
         ex AS (SELECT doc_id, s
                FROM (SELECT doc_id, unnest(shingles) AS s FROM sh)
                QUALIFY count(*) OVER (PARTITION BY s) <= 50),
         sizes AS (SELECT doc_id, len(shingles) AS n FROM sh),
         inter AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS c
                   FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
                   GROUP BY 1, 2),
         pairs AS (SELECT d1, d2 FROM inter
                   JOIN sizes s1 ON d1 = s1.doc_id
                   JOIN sizes s2 ON d2 = s2.doc_id
                   WHERE c * 1.0 / (s1.n + s2.n - c) >= 0.6),
         edges AS (SELECT d1 AS a, d2 AS b FROM pairs
                   UNION SELECT d2, d1 FROM pairs),
         reach(a, b) AS (
           SELECT a, b FROM edges
           UNION
           SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
         comp AS (SELECT a AS doc_id, min(b) AS mn FROM reach GROUP BY a),
         lab AS (SELECT d.doc_id,
                   coalesce(least(c.mn, d.doc_id), d.doc_id) AS cluster_id
                 FROM $rel d LEFT JOIN comp c ON d.doc_id = c.doc_id)"""

  private val sessionizeOracleSql: String =
    """WITH e AS (SELECT user_id, event_id,
           CAST(epoch_ms(ts) AS BIGINT) AS t FROM events),
       s AS (SELECT user_id, event_id, t,
           CASE WHEN lag(t) OVER w IS NULL
                  OR t - lag(t) OVER w > 1800000 THEN 1 ELSE 0 END AS new_sess
         FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)),
       r AS (SELECT user_id, t,
           sum(new_sess) OVER (PARTITION BY user_id
             ORDER BY t, event_id) AS session_seq
         FROM s)
       SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
         CAST(count(*) AS BIGINT) AS n_events,
         min(t) AS start_ms, max(t) AS end_ms,
         max(t) - min(t) AS duration_ms
       FROM r GROUP BY 1, 2 ORDER BY user_id, session_seq"""

  // --- generated oracle SQL for the portable-hash sketch queries.
  // The hash family constants come from the SAME Scala object the
  // Spark expressions use (TextFunctions.MinHashParams), so the two
  // engines provably evaluate the same functions. ---

  /** `h`: the portable 60-bit md5-prefix hash reduced mod 2^31-1. */
  private def sqlPortableH(of: String): String =
    s"CAST(('0x' || substr(md5($of), 1, 15)) AS BIGINT)"

  /** Shared CTE prefix for the MinHash oracles (q24, q65): 3-gram
    * shingles → portable hashes → 64 universal-hash min-signatures →
    * 16 banded keys. Ends without a trailing comma. */
  private lazy val minHashCtePrefix: String = {
    import graft.functions.TextFunctions.MinHashParams.{M, a, b}
    val sigMins = (0 until 64)
      .map(i => s"min((${a(i)} * h + ${b(i)}) % $M) AS m$i").mkString(",\n           ")
    val bandSelects = (0 until 16).map { bd =>
      val key = (0 until 4).map(j => s"CAST(m${bd * 4 + j} AS VARCHAR)")
        .mkString(" || ',' || ")
      s"SELECT doc_id, $bd AS band, $key AS k FROM sig"
    }.mkString("\n           UNION ALL ")
    s"""sh AS (
           SELECT doc_id, list_distinct(list_transform(
             range(1, greatest(len(string_split_regex(lower(trim(text)), '\\s+')) - 2, 0) + 1),
             i -> array_to_string(string_split_regex(lower(trim(text)), '\\s+')[i:i+2], ' '))) AS shingles
           FROM documents),
         hx AS (SELECT doc_id, ${sqlPortableH("s")} % $M AS h
                FROM (SELECT doc_id, unnest(shingles) AS s FROM sh)),
         sig AS (SELECT doc_id,
           $sigMins
           FROM hx GROUP BY doc_id),
         bands AS ($bandSelects)"""
  }

  /** Signature-equality sum between sig aliases s1 and s2. */
  private lazy val minHashEqSum: String =
    (0 until 64).map(i => s"CAST(s1.m$i = s2.m$i AS INT)").mkString(" + ")

  /** The q202 sorted-neighborhood pair chain as composable CTEs
    * (snr → snrk → snp), constants interpolated from the Dedup
    * object so the oracle cannot desync from the query. Shared by
    * the q209 comparison and the q224 agreement matrix. */
  private lazy val snPairCtes: String =
    s"""snr AS (SELECT lang, doc_id, lower(trim(text)) AS norm,
             list_distinct(string_split_regex(trim(lower(text)), '\\s+'))
               AS toks
           FROM documents),
         snrk AS (SELECT lang, doc_id, toks,
             row_number() OVER (PARTITION BY lang ORDER BY norm, doc_id)
               AS rn
           FROM snr),
         snp AS (SELECT least(a.doc_id, b.doc_id) AS d1,
             greatest(a.doc_id, b.doc_id) AS d2
           FROM snrk a JOIN snrk b
             ON a.lang = b.lang
               AND b.rn - a.rn IN (${(1 until graft.operators.Dedup.SnWindow).mkString(", ")})
           WHERE CAST(len(list_intersect(a.toks, b.toks)) AS BIGINT)
               * 1000000
               // greatest(len(a.toks) + len(b.toks)
                 - len(list_intersect(a.toks, b.toks)), 1)
               >= ${graft.operators.Dedup.SnThresholdE6})"""

  /** q24: the full MinHash+LSH pipeline — 3-gram shingles, 64
    * universal-hash min-signatures, 16 band keys, bucket join,
    * signature-estimated Jaccard >= 0.5 — mirrored in DuckDB. */
  private lazy val minHashOracleSql: String =
    s"""WITH $minHashCtePrefix,
         cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
                  FROM bands a JOIN bands b
                  ON a.band = b.band AND a.k = b.k AND a.doc_id < b.doc_id),
         est AS (SELECT d1, d2, ($minHashEqSum) AS cnt
                 FROM cand JOIN sig s1 ON d1 = s1.doc_id
                 JOIN sig s2 ON d2 = s2.doc_id)
         SELECT d1, d2, CAST(round(cnt / 64.0, 6) * 1000000 AS BIGINT) AS est_jac
         FROM est WHERE cnt / 64.0 >= 0.5 ORDER BY d1, d2"""

  /** q65: incremental dedup — the 20% batch (doc_id % 5 = 4) probes
    * the remaining 80% corpus's band index; per new doc the lowest-id
    * verified corpus match and the best estimate. */
  private lazy val incrementalDedupOracleSql: String =
    s"""WITH $minHashCtePrefix,
         nb AS (SELECT * FROM bands WHERE doc_id % 5 = 4),
         cb AS (SELECT * FROM bands WHERE doc_id % 5 != 4),
         cand AS (SELECT DISTINCT a.doc_id AS doc_id, b.doc_id AS corp_id
                  FROM nb a JOIN cb b ON a.band = b.band AND a.k = b.k),
         est AS (SELECT cand.doc_id, cand.corp_id, ($minHashEqSum) AS cnt
                 FROM cand JOIN sig s1 ON cand.doc_id = s1.doc_id
                 JOIN sig s2 ON cand.corp_id = s2.doc_id),
         v AS (SELECT doc_id, min(corp_id) AS matched,
                 CAST(round(max(cnt) / 64.0, 6) * 1000000 AS BIGINT) AS best_est
               FROM est WHERE cnt / 64.0 >= 0.5 GROUP BY 1)
       SELECT d.doc_id, coalesce(v.matched, d.doc_id) AS dup_of,
         coalesce(v.best_est, 0) AS est_jac,
         CAST(v.matched IS NOT NULL AS BIGINT) AS is_dup
       FROM documents d LEFT JOIN v ON d.doc_id = v.doc_id
       WHERE d.doc_id % 5 = 4
       ORDER BY d.doc_id"""

  /** q25: 60-bit portable SimHash — per-bit majority votes over token
    * hashes, 4×15-bit pigeonhole chunk join, hamming <= 3. */
  private lazy val simHashOracleSql: String = {
    val votes = (0 until 60)
      .map(b => s"sum(CASE WHEN ((h >> $b) & 1) = 1 THEN 1 ELSE -1 END) AS v$b")
      .mkString(",\n           ")
    val sigSum = (0 until 60)
      .map(b => s"(CASE WHEN v$b > 0 THEN (CAST(1 AS BIGINT) << $b) ELSE CAST(0 AS BIGINT) END)")
      .mkString(" + ")
    val chunkSelects = (0 until 4).map(i =>
      s"SELECT doc_id, sig, $i AS ci, ((sig >> ${i * 15}) & 32767) AS cv FROM sig")
      .mkString("\n           UNION ALL ")
    s"""WITH tok AS (
           SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS t
           FROM documents),
         hx AS (SELECT doc_id, ${sqlPortableH("t")} AS h FROM tok),
         votes AS (SELECT doc_id,
           $votes
           FROM hx GROUP BY doc_id),
         sig AS (SELECT doc_id, ($sigSum) AS sig FROM votes),
         chunks AS ($chunkSelects),
         cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2,
                    a.sig AS g1, b.sig AS g2
                  FROM chunks a JOIN chunks b
                  ON a.ci = b.ci AND a.cv = b.cv AND a.doc_id < b.doc_id)
         SELECT d1, d2, CAST(bit_count(xor(g1, g2)) AS BIGINT) AS hamming
         FROM cand WHERE bit_count(xor(g1, g2)) <= 3 ORDER BY d1, d2"""
  }

  /** q56: portable approximate ANN — quantized integer hyperplane
    * buckets (plane constants from [[graft.operators.Similarity
    * .portablePlaneComponent]], embedded as literals on both engines),
    * multi-probe at hamming distance <= 2's single-bit flips, exact
    * cosine top-10 within the probed buckets. */
  private lazy val annPortableOracleSql: String = {
    val planes = 6
    val bits = (0 until planes).map { p =>
      val cs = (0 until 64)
        .map(i => graft.operators.Similarity.portablePlaneComponent(p, i))
        .mkString("[", ",", "]")
      s"(CASE WHEN list_dot_product(CAST(q AS DOUBLE[]), $cs) > 0 THEN ${1L << p} ELSE 0 END)"
    }.mkString("\n           + ")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
                   FROM embeddings),
         qv AS (SELECT vec_id, emb,
           list_transform(emb, x -> CAST(round(x * 1024) AS BIGINT)) AS q
           FROM e),
         b AS (SELECT vec_id, emb,
           $bits AS bucket FROM qv),
         qb AS (SELECT unnest([bucket, xor(bucket, 1), xor(bucket, 2)])
                  AS qbucket, emb AS qe
                FROM b WHERE vec_id = 0)
       SELECT vec_id,
         CAST(round(list_cosine_similarity(emb, qe), 6) * 1000000 AS BIGINT)
           AS sim
       FROM b JOIN qb ON b.bucket = qb.qbucket WHERE vec_id != 0
       ORDER BY list_cosine_similarity(emb, qe) DESC, vec_id LIMIT 10"""
  }

  /** q58: semantic dedup oracle — recompute the planes=4 portable
    * bucket assignment (same integer plane constants as the Spark
    * side), pair within buckets at cosine >= 0.3, label each vector
    * with its earliest in-bucket neighbor. */
  private lazy val semanticDedupOracleSql: String = {
    val planes = 4
    val bits = (0 until planes).map { p =>
      val cs = (0 until 64)
        .map(i => graft.operators.Similarity.portablePlaneComponent(p, i))
        .mkString("[", ",", "]")
      s"(CASE WHEN list_dot_product(CAST(q AS DOUBLE[]), $cs) > 0 THEN ${1L << p} ELSE 0 END)"
    }.mkString("\n           + ")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
                   FROM embeddings),
         qv AS (SELECT vec_id, emb,
           list_transform(emb, x -> CAST(round(x * 1024) AS BIGINT)) AS q
           FROM e),
         b AS (SELECT vec_id, emb, CAST($bits AS BIGINT) AS bucket FROM qv),
         d AS (SELECT c.vec_id AS vec_id, min(a.vec_id) AS dup_of
               FROM b a JOIN b c
                 ON a.bucket = c.bucket AND a.vec_id < c.vec_id
               WHERE list_cosine_similarity(a.emb, c.emb) >= 0.3
               GROUP BY 1)
       SELECT b.vec_id, b.bucket,
         coalesce(d.dup_of, b.vec_id) AS keeper,
         CAST(coalesce(d.dup_of, b.vec_id) != b.vec_id AS BIGINT) AS is_dup
       FROM b LEFT JOIN d ON b.vec_id = d.vec_id
       ORDER BY b.vec_id"""
  }

  /** q34: winnowing with portable rolling 5-gram hashes, window 4 —
    * distinct window minima per doc (all grams when fewer than a
    * window, 0 when none). */
  private lazy val winnowOracleSql: String =
    s"""WITH t AS (
           SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks
           FROM documents),
         g AS (SELECT doc_id, list_transform(
             range(1, greatest(len(toks) - 4, 0) + 1),
             i -> ${sqlPortableH("array_to_string(toks[i:i+4], ' ')")}) AS grams
           FROM t)
         SELECT doc_id,
           CAST(CASE WHEN len(grams) >= 4 THEN
             len(list_distinct(list_transform(range(1, len(grams) - 2),
               i -> list_min(grams[i:i+3]))))
           ELSE len(list_distinct(grams)) END AS BIGINT) AS n_fp
         FROM g ORDER BY doc_id"""

  /** q69: winnow-fingerprint near-dup pairs — q34's per-doc distinct
    * fingerprint sets (same gram/window constants), unnested into an
    * inverted index with the same <= 50-doc frequency cap the Spark
    * side applies, then the a<b pair join with a shared-count floor
    * of 2. */
  private lazy val winnowPairsOracleSql: String =
    s"""WITH t AS (
           SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks
           FROM documents),
         g AS (SELECT doc_id, list_transform(
             range(1, greatest(len(toks) - 4, 0) + 1),
             i -> ${sqlPortableH("array_to_string(toks[i:i+4], ' ')")}) AS grams
           FROM t),
         f AS (SELECT doc_id,
             CASE WHEN len(grams) >= 4 THEN
               list_distinct(list_transform(range(1, len(grams) - 2),
                 i -> list_min(grams[i:i+3])))
             ELSE list_distinct(grams) END AS fps
           FROM g),
         u AS (SELECT doc_id, unnest(fps) AS fp FROM f),
         keep AS (SELECT fp FROM u GROUP BY fp HAVING count(*) <= 50),
         ix AS (SELECT u.doc_id, u.fp FROM u JOIN keep USING (fp))
       SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(count(*) AS BIGINT) AS n_shared
       FROM ix a JOIN ix b ON a.fp = b.fp AND a.doc_id < b.doc_id
       GROUP BY 1, 2 HAVING count(*) >= 2
       ORDER BY doc_a, doc_b"""

  /** q68: vocabulary build — min count 3, vocab size 300, ids by
    * (count DESC, term). */
  private lazy val vocabOracleSql: String =
    """WITH t AS (SELECT unnest(string_split_regex(lower(trim(text)), '\s+'))
             AS term FROM documents),
         c AS (SELECT term, CAST(count(*) AS BIGINT) AS cnt FROM t
               GROUP BY 1 HAVING count(*) >= 3),
         v AS (SELECT term, cnt FROM c ORDER BY cnt DESC, term LIMIT 300)
       SELECT CAST(row_number() OVER (ORDER BY cnt DESC, term) AS BIGINT)
           AS vocab_id, term, cnt
       FROM v ORDER BY vocab_id"""
}
