package graft.operators.dedup

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Deduplication over `documents` / `embeddings` — exact, MinHash+LSH,
  * SimHash, n-gram Jaccard, and embedding-cosine near-dup.
  *
  * Scale design: every candidate-generation step is a *bucket shuffle*
  * (groupBy band-hash / chunk / LSH bucket), never an O(n²) cross join —
  * pair enumeration happens only inside buckets. Per-document feature
  * vectors (shingles, minhashes, simhash) are built with higher-order
  * functions inside whole-stage codegen: one narrow scan, no UDFs.
  *
  * All hashing is explicit integer arithmetic mod 2^31-1, shared
  * verbatim with the DuckDB oracles — deterministic at any scale and on
  * any engine. Multiplicands are mod-reduced below 2^31 before any
  * large-constant multiply (max intermediate ≈ 5.7e18 < 2^63), so the
  * arithmetic cannot wrap even on pathological inputs.
  */
object DedupOps {

  private def docs(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")

  // ---- d1: exact dedup via md5(text), keep min doc_id per group ----
  def d1ExactDedup(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .groupBy(md5(col("text")).as("text_hash"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_docs"))
      .orderBy(col("text_hash"))

  lazy val d1Sql: String =
    """SELECT md5(text) AS text_hash, min(doc_id) AS keep_id, count(*) AS n_docs
      |FROM documents GROUP BY md5(text) ORDER BY text_hash""".stripMargin

  // ---- shared shingle features (word-3-shingles, arithmetic-hashed) ----
  // word value: length + first/last char codes; shingle: base-131 combo.
  private[operators] val wordValExpr =
    """(cast(length(w) as bigint)*31 + ascii(substring(w,1,1)))*31
      |       + ascii(substring(w,-1,1))""".stripMargin
  private[operators] val wvsExpr =
    s"transform(split(text, ' '),\n  w -> $wordValExpr)"

  // sorted: enables the merge-pass intersect in d4 (d2's minhash folds
  // are order-insensitive, so sorting is free for every consumer)
  private val shinglesExpr =
    """sort_array(array_distinct(transform(sequence(1, size(wvs)-2),
      |  i -> ((element_at(wvs,i)*131 + element_at(wvs,i+1))*131
      |        + element_at(wvs,i+2)) % 2147483647)))""".stripMargin

  /** Shingle features of an arbitrary documents-shaped DataFrame —
    * the per-row builder behind [[shingleFeatures]], reused by the
    * incremental-dedup path (d9) where the input is a shard, not the
    * whole table. */
  def shinglesOf(docsDf: DataFrame): DataFrame =
    docsDf
      .filter(size(split(col("text"), " ")) >= 3)
      .withColumn("wvs", expr(wvsExpr))
      .select(col("doc_id"), expr(shinglesExpr).as("shingles"))

  /** doc_id + distinct shingle-hash array; codegen'd, one scan,
    * cached per (session, dir) — feeds d2 (twice, via the self-join)
    * and d4 (three more uses). */
  def shingleFeatures(spark: SparkSession, dir: String): DataFrame =
    graft.util.DfCache.cached(spark, dir, "dedup_shingles") {
      shinglesOf(docs(spark, dir))
    }

  private val shingleCtes =
    """wvs AS (
      |  SELECT doc_id,
      |    list_transform(string_split(text,' '),
      |      w -> (CAST(length(w) AS BIGINT)*31 + ascii(substr(w,1,1)))*31
      |           + ascii(substr(w,-1,1))) AS wvs
      |  FROM documents WHERE len(string_split(text,' ')) >= 3),
      |sh AS (
      |  SELECT doc_id,
      |    list_distinct([ ((wvs[i]*131 + wvs[i+1])*131 + wvs[i+2]) % 2147483647
      |                    for i in generate_series(1, len(wvs)-2) ]) AS shingles
      |  FROM wvs)""".stripMargin

  // ---- d2: MinHash(64) + LSH (16 bands x 4 rows) candidate pairs ----
  // Native fused loop (graft.functions.MinHash64) — the HOF form
  // `transform(sequence(0,63), p -> array_min(transform(shingles,
  // s -> ((2p+1)s + p²+1) % M)))` computes identical values but runs
  // interpreted (HOFs are CodegenFallback); at the sf10 index build
  // it was the measured single-core bottleneck. Oracles keep the
  // arithmetic spelled out — the function is definitionally that
  // formula (MinHashSpec pins the equivalence element-wise).
  private val mhExpr = "graft_minhash64(shingles)"

  private val bandKeysExpr =
    """transform(sequence(0, 15), b ->
      |  (((element_at(mh,4*b+1)*31 + element_at(mh,4*b+2))*31
      |     + element_at(mh,4*b+3))*31 + element_at(mh,4*b+4)) % 2147483647)""".stripMargin

  /** (doc_id, band, bkey) band rows of a shingle-feature DataFrame —
    * the builder behind [[bandTable]], reused by d9's index build and
    * shard probe. */
  def bandRowsOf(sh: DataFrame): DataFrame = {
    // mhExpr resolves graft_minhash64 at analysis time — register on
    // the frame's own session so standalone callers (buildDedupIndex
    // on a fresh session) don't depend on a prior operator having
    // registered it.
    graft.functions.GraftFunctions.registerAll(sh.sparkSession)
    sh.withColumn("mh", expr(mhExpr))
      .select(col("doc_id"), posexplode(expr(bandKeysExpr)).as(Seq("band", "bkey")))
  }

  /** (doc_id, band, bkey): 16 rows per doc, the LSH shuffle key.
    * Cached: both sides of the candidate self-join read it. */
  def bandTable(spark: SparkSession, dir: String): DataFrame =
    graft.util.DfCache.cached(spark, dir, "dedup_bands") {
      bandRowsOf(shingleFeatures(spark, dir))
    }

  // Bucket cap: a degenerate band bucket with k members yields k²
  // candidate pairs; buckets past the cap (boilerplate-heavy corpora at
  // scale) are dropped from pair enumeration. No effect at test scale
  // (max observed bucket ≪ cap) — it bounds the worst case at 100 TB,
  // the same skew-guard pattern as g7's hub-order cap.
  private[graft] val MaxBucket = 200

  def d2MinhashLsh(spark: SparkSession, dir: String): DataFrame = {
    val capped = graft.util.Buckets.cap(
      bandTable(spark, dir), Seq("band", "bkey"), MaxBucket)
    capped.as("x").join(capped.as("y"),
        col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey")
          && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
      .orderBy(col("doc_a"), col("doc_b"))
  }

  private val lshCtes =
    s"""$shingleCtes,
       |mh AS (
       |  SELECT doc_id,
       |    [ list_min([ ((2*CAST(p AS BIGINT)+1)*s + p*p+1) % 2147483647
       |                 for s in shingles ])
       |      for p in generate_series(0,63) ] AS mh
       |  FROM sh),
       |bands AS (
       |  SELECT doc_id, b AS band,
       |    (((mh[4*b+1]*31 + mh[4*b+2])*31 + mh[4*b+3])*31 + mh[4*b+4])
       |      % 2147483647 AS bkey
       |  FROM mh, generate_series(0,15) g(b)),
       |ok_buckets AS (
       |  SELECT band, bkey FROM bands GROUP BY band, bkey HAVING count(*) <= $MaxBucket),
       |capped AS (
       |  SELECT b.doc_id, b.band, b.bkey FROM bands b JOIN ok_buckets USING (band, bkey)),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM capped x JOIN capped y
       |    ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id)""".stripMargin

  lazy val d2Sql: String =
    s"""WITH $lshCtes
       |SELECT doc_a, doc_b FROM cand ORDER BY doc_a, doc_b""".stripMargin

  // ---- d30: LSH bucket-size observability (the tuning dashboard) ----
  // Per band: bucket count, max bucket, how many buckets the
  // MaxBucket skew guard drops, and the exact capped pair volume
  // Σ k(k−1)/2 — the numbers an operator reads BEFORE running d2 at a
  // new scale, because pair volume (not row count) is what explodes
  // on boilerplate-heavy corpora. This is the d23 band-tuning matrix'
  // runtime counterpart: d23 asks "which (bands, rows) config", this
  // asks "is the CURRENT config's candidate volume sane, and how much
  // is the cap silently pricing out". One re-aggregation of the
  // cached band table (16 rows/doc), output |bands| rows — a
  // dashboard query that costs one map-side-combined pass at any
  // corpus size.
  def d30BucketStats(spark: SparkSession, dir: String): DataFrame =
    bandTable(spark, dir)
      .groupBy(col("band"), col("bkey")).agg(count(lit(1)).as("k"))
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n_buckets"),
        sum(col("k")).as("n_rows"),
        max(col("k")).as("max_bucket"),
        sum(when(col("k") > MaxBucket, 1L).otherwise(0L)).as("n_dropped"),
        sum(when(col("k") <= MaxBucket,
          expr("k * (k - 1) div 2")).otherwise(0L)).as("pair_volume"))
      .orderBy(col("band"))

  lazy val d30Sql: String =
    s"""WITH $lshCtes,
       |bs AS (SELECT band, bkey, count(*) AS k FROM bands GROUP BY 1, 2)
       |SELECT band, count(*) AS n_buckets,
       |  CAST(sum(k) AS BIGINT) AS n_rows,
       |  CAST(max(k) AS BIGINT) AS max_bucket,
       |  CAST(sum(CASE WHEN k > $MaxBucket THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_dropped,
       |  CAST(sum(CASE WHEN k <= $MaxBucket THEN k * (k - 1) // 2 ELSE 0 END)
       |    AS BIGINT) AS pair_volume
       |FROM bs GROUP BY band ORDER BY band""".stripMargin

  // ---- d32: similarity-estimate calibration matrix ----
  // d13 prices the 64-perm signature pair-by-pair; this is the
  // CALIBRATION view a threshold-tuner actually reads: estimated-
  // similarity bins (16ths — the granularity a 64-perm estimate can
  // even express is 64ths, 16 is the dashboard rollup) × true-Jaccard
  // deciles, with pair counts and the mean signed error per cell. A
  // concentrated diagonal means signature-only dedup (the 100 TB
  // temptation) is safe above some bin; off-diagonal mass locates
  // exactly where it lies. One bounded-domain rollup over the d13
  // pair frame (shared cached stages); output ≤ 16×10 rows.
  def d32SimCalibration(spark: SparkSession, dir: String): DataFrame =
    d13MinhashEstimate(spark, dir)
      .select(
        expr("least(15, est_ppm * 16 div 1000000)").as("est_bin"),
        expr("least(9, exact_ppm * 10 div 1000000)").as("true_decile"),
        col("err_ppm"))
      .groupBy(col("est_bin"), col("true_decile"))
      .agg(count(lit(1)).as("n_pairs"),
        expr("""CAST(CAST(sign(sum(err_ppm)) AS BIGINT)
          |  * (abs(sum(err_ppm)) div count(1)) AS BIGINT)""".stripMargin)
          .as("mean_err_ppm"))
      .orderBy(col("est_bin"), col("true_decile"))

  lazy val d32Sql: String =
    s"""WITH base AS ($d13Sql)
       |SELECT least(15, est_ppm * 16 // 1000000) AS est_bin,
       |  least(9, exact_ppm * 10 // 1000000) AS true_decile,
       |  count(*) AS n_pairs,
       |  CAST(CAST(sign(sum(err_ppm)) AS BIGINT)
       |    * (abs(sum(err_ppm)) // count(*)) AS BIGINT) AS mean_err_ppm
       |FROM base GROUP BY 1, 2 ORDER BY est_bin, true_decile""".stripMargin

  // ---- d31: cross-detector agreement (Jaccard vs winnow clusters) ----
  // Two independent dup detectors — d6's verified-Jaccard clusters
  // and d16's winnowed-fingerprint clusters — SHOULD mostly agree;
  // their pair-level Jaccard agreement is the consistency audit a
  // pipeline runs before trusting either alone (low agreement means
  // one family's thresholds are mistuned for this corpus). Pairs
  // co-clustered per detector come from within-cluster self-joins
  // (dup clusters are near-dup groups, so Σk² stays tiny by
  // construction — the candidate caps upstream bound k), the
  // intersection is one equi-join on the pair key, and the output is
  // ONE row. Exact ppm over the union.
  def d31ClusterAgreement(spark: SparkSession, dir: String): DataFrame = {
    def pairsOf(df: DataFrame): DataFrame =
      df.as("x").join(df.as("y"),
          col("x.cluster_id") === col("y.cluster_id")
            && col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("da"), col("y.doc_id").as("db"))
    val pa = pairsOf(d6DupClusters(spark, dir))
    val pb = pairsOf(d16WinnowClusters(spark, dir))
    val inter = pa.join(pb, Seq("da", "db"))
    pa.agg(count(lit(1)).as("n_pairs_jaccard"))
      .crossJoin(pb.agg(count(lit(1)).as("n_pairs_winnow")))
      .crossJoin(inter.agg(count(lit(1)).as("n_common")))
      .select(col("n_pairs_jaccard"), col("n_pairs_winnow"), col("n_common"),
        expr("""n_common * 1000000 div greatest(
               |  n_pairs_jaccard + n_pairs_winnow - n_common, 1)""".stripMargin)
          .as("agreement_ppm"))
  }

  lazy val d31Sql: String =
    s"""WITH ja AS MATERIALIZED ($d6Sql),
       |wi AS MATERIALIZED ($d16Sql),
       |pa AS MATERIALIZED (SELECT x.doc_id AS da, y.doc_id AS db FROM ja x JOIN ja y
       |       ON x.cluster_id = y.cluster_id AND x.doc_id < y.doc_id),
       |pb AS MATERIALIZED (SELECT x.doc_id AS da, y.doc_id AS db FROM wi x JOIN wi y
       |       ON x.cluster_id = y.cluster_id AND x.doc_id < y.doc_id),
       |i AS MATERIALIZED (SELECT * FROM pa INTERSECT SELECT * FROM pb)
       |SELECT
       |  (SELECT count(*) FROM pa) AS n_pairs_jaccard,
       |  (SELECT count(*) FROM pb) AS n_pairs_winnow,
       |  (SELECT count(*) FROM i) AS n_common,
       |  (SELECT count(*) FROM i) * 1000000 // greatest(
       |    (SELECT count(*) FROM pa) + (SELECT count(*) FROM pb)
       |      - (SELECT count(*) FROM i), 1) AS agreement_ppm""".stripMargin

  // ---- d3: SimHash (two 31-bit halves) hamming-chunk near-dup ----
  // Restructured for codegen: explode tokens once, then ONE hash
  // aggregate with 62 bit-count sums (whole-stage codegen + map-side
  // partial agg) instead of 62 interpreted higher-order folds per doc.
  // bit_j = 1  iff  sum over tokens of (2*bit_j(h) - 1) > 0
  //         iff  2 * count(tokens with bit_j set) > n_tokens.
  def simhashTable(spark: SparkSession, dir: String): DataFrame =
    graft.util.DfCache.cached(spark, dir, "dedup_simhash") {
      val toks = docs(spark, dir)
        .withColumn("wvs", expr(wvsExpr))
        .select(col("doc_id"), explode(col("wvs")).as("v"))
        // v mod-reduced BEFORE the multiply: word values are normally
        // tiny (~2e5), but a pathological unbroken-token "word" grows
        // with document size and v*2654435761 would wrap int64 —
        // mathematically identical mod 2^31-1, shared with the oracle
        .select(col("doc_id"),
          expr("((v % 2147483647)*2654435761 + 101) % 2147483647").as("hlo"),
          expr("((v % 2147483647)*40503 + 7) % 2147483647").as("hhi"))
      val aggs = (0 to 30).flatMap(j => Seq(
        sum(expr(s"shiftright(hlo, $j) & 1")).as(s"clo_$j"),
        sum(expr(s"shiftright(hhi, $j) & 1")).as(s"chi_$j"))) :+
        count(lit(1)).as("n")
      val counts = toks.groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
      def half(pfx: String) = (0 to 30)
        .map(j => expr(s"CASE WHEN 2*${pfx}_$j > n THEN cast(${1L << j} as bigint) " +
          "ELSE cast(0 as bigint) END"))
        .reduce(_ + _)
      counts.select(col("doc_id"),
        half("clo").as("simhash_lo"), half("chi").as("simhash_hi"))
    }

  def d3Simhash(spark: SparkSession, dir: String): DataFrame = {
    val chunks = simhashTable(spark, dir)
      .withColumn("chunks", expr(
        """array(simhash_lo % 65536, simhash_lo div 65536,
          |      simhash_hi % 65536, simhash_hi div 65536)""".stripMargin))
      .select(col("doc_id"), col("simhash_lo"), col("simhash_hi"),
        posexplode(col("chunks")).as(Seq("cpos", "cval")))
    // Same degenerate-bucket cap as d2: a 16-bit chunk bucket's
    // population grows ~n/65536 with corpus size, so the chunk
    // self-join is O(n²/65536) without it. Buckets past the cap are
    // dropped from pair enumeration (mirrored in the oracle).
    val s = graft.util.Buckets.cap(chunks, Seq("cpos", "cval"), MaxBucket)
    s.as("x").join(s.as("y"),
        col("x.cpos") === col("y.cpos") && col("x.cval") === col("y.cval")
          && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        (expr("bit_count(x.simhash_lo ^ y.simhash_lo)")
          + expr("bit_count(x.simhash_hi ^ y.simhash_hi)")).as("hamming"))
      .distinct()
      .filter(col("hamming") <= 5)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  private val simhashCtes =
    s"""wvs AS (
      |  SELECT doc_id,
      |    list_transform(string_split(text,' '),
      |      w -> (CAST(length(w) AS BIGINT)*31 + ascii(substr(w,1,1)))*31
      |           + ascii(substr(w,-1,1))) AS wvs
      |  FROM documents),
      |hs AS (
      |  SELECT doc_id,
      |    list_transform(wvs, v -> ((v % 2147483647)*2654435761 + 101) % 2147483647) AS hlo,
      |    list_transform(wvs, v -> ((v % 2147483647)*40503 + 7) % 2147483647) AS hhi
      |  FROM wvs),
      |sim AS (
      |  SELECT doc_id,
      |    CAST(list_sum([ CASE WHEN list_sum([ 2*((h >> j) & 1) - 1 for h in hlo ]) > 0
      |                         THEN (CAST(1 AS BIGINT) << j) ELSE CAST(0 AS BIGINT) END
      |                    for j in generate_series(0,30) ]) AS BIGINT) AS simhash_lo,
      |    CAST(list_sum([ CASE WHEN list_sum([ 2*((h >> j) & 1) - 1 for h in hhi ]) > 0
      |                         THEN (CAST(1 AS BIGINT) << j) ELSE CAST(0 AS BIGINT) END
      |                    for j in generate_series(0,30) ]) AS BIGINT) AS simhash_hi
      |  FROM hs),
      |chunks0 AS (
      |  SELECT doc_id, simhash_lo, simhash_hi, c AS cpos,
      |    CASE c WHEN 0 THEN simhash_lo % 65536 WHEN 1 THEN simhash_lo // 65536
      |           WHEN 2 THEN simhash_hi % 65536 ELSE simhash_hi // 65536 END AS cval
      |  FROM sim, generate_series(0,3) g(c)),
      |ok_chunks AS (
      |  SELECT cpos, cval FROM chunks0 GROUP BY cpos, cval HAVING count(*) <= $MaxBucket),
      |chunks AS (SELECT c.* FROM chunks0 c JOIN ok_chunks USING (cpos, cval))""".stripMargin

  lazy val d3Sql: String =
    s"""WITH $simhashCtes
       |SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
       |  bit_count(xor(x.simhash_lo, y.simhash_lo))
       |    + bit_count(xor(x.simhash_hi, y.simhash_hi)) AS hamming
       |FROM chunks x JOIN chunks y
       |  ON x.cpos = y.cpos AND x.cval = y.cval AND x.doc_id < y.doc_id
       |WHERE bit_count(xor(x.simhash_lo, y.simhash_lo))
       |    + bit_count(xor(x.simhash_hi, y.simhash_hi)) <= 5
       |ORDER BY doc_a, doc_b""".stripMargin

  // ---- d4: word-3-gram Jaccard over the LSH candidate pairs ----
  // Intersection size via a native merge-pass count over the per-doc
  // SORTED distinct shingle arrays ([[graft.functions
  // .SortedIntersectCount]]): two hash joins attach the arrays to each
  // candidate pair and the whole Jaccard computation stays in one
  // narrow codegen'd stage — no shingle explode, no (pair × shingle)
  // shuffle, no per-row hash set. Arrays are bounded by document
  // length, so per-row cost is constant in corpus size; only
  // |candidates| rows flow.
  /** The near-dup verification threshold, shared by d4, d9 and their
    * oracles. */
  private val JaccardTheta = 0.2

  /** Jaccard verification of a (doc_a, doc_b) candidate list against
    * a shingle-feature table covering both endpoints — d4's verify
    * stage as a reusable step (d9 runs it over corpus ∪ shard
    * shingles). One narrow codegen'd stage per candidate row via the
    * native merge-pass intersect; only |candidates| rows flow. */
  private def jaccardVerified(cand: DataFrame, sh: DataFrame): DataFrame =
    cand
      .join(sh.as("a"), col("doc_a") === col("a.doc_id"))
      .join(sh.as("b"), col("doc_b") === col("b.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        expr("graft_sorted_intersect_count(a.shingles, b.shingles)").as("inter"),
        size(col("a.shingles")).as("na"), size(col("b.shingles")).as("nb"))
      .select(col("doc_a"), col("doc_b"),
        (col("inter").cast("double") / (col("na") + col("nb") - col("inter"))).as("jaccard"))
      .filter(col("jaccard") >= JaccardTheta)

  // cached: d6's cluster assignment consumes the verified pairs again
  def d4NgramJaccard(spark: SparkSession, dir: String): DataFrame =
    graft.util.DfCache.cached(spark, dir, "dedup_jaccard") {
      graft.functions.GraftFunctions.registerAll(spark)
      jaccardVerified(d2MinhashLsh(spark, dir), shingleFeatures(spark, dir))
        .orderBy(col("doc_a"), col("doc_b"))
    }

  lazy val d4Sql: String =
    s"""WITH $lshCtes,
       |shx AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
       |ns AS (SELECT doc_id, len(shingles) AS n FROM sh),
       |inter AS (
       |  SELECT c.doc_a, c.doc_b, count(*) AS inter
       |  FROM cand c
       |  JOIN shx a ON a.doc_id = c.doc_a
       |  JOIN shx b ON b.doc_id = c.doc_b AND a.s = b.s
       |  GROUP BY c.doc_a, c.doc_b)
       |SELECT i.doc_a, i.doc_b,
       |  CAST(i.inter AS DOUBLE) / (na.n + nb.n - i.inter) AS jaccard
       |FROM inter i
       |JOIN ns na ON i.doc_a = na.doc_id
       |JOIN ns nb ON i.doc_b = nb.doc_id
       |WHERE CAST(i.inter AS DOUBLE) / (na.n + nb.n - i.inter) >= $JaccardTheta
       |ORDER BY doc_a, doc_b""".stripMargin

  // ---- d26: IDF-weighted Jaccard re-rank of the verified pairs ----
  // d4's unweighted Jaccard scores a boilerplate 3-gram the same as a
  // rare content 3-gram, so template-heavy corpora rank template
  // overlap above real duplication. d26 re-scores d4's verified pairs
  // with global shingle rarity: w(s) = 10^6 DIV df(s) (the IDF
  // discretization — ubiquitous shingles weigh ~0, hapax shingles
  // weigh 10^6), weighted J = Σ_{A∩B} w / Σ_{A∪B} w in exact ppm.
  // Pairs whose wjaccard ≪ jaccard are template matches a curation
  // run keeps; pairs where both are high are true near-dups. Plan:
  // the explode is over the VERIFIED pairs only (already θ-filtered —
  // linear in near-dup volume, NOT candidate volume), and the weight
  // attach is a shingle-keyed co-partitioned join — the df table is
  // vocabulary-sized and never broadcast.
  def d26IdfJaccard(spark: SparkSession, dir: String): DataFrame = {
    val shx = shingleFeatures(spark, dir)
      .select(col("doc_id"), explode(col("shingles")).as("s"))
    // weight floored at 1: with df(s) > 1e6 (a 100 TB-scale corpus)
    // the IDF weight would round to 0 and a pair whose union is all
    // ubiquitous shingles would divide by union_w = 0
    val dfw = shx.groupBy(col("s"))
      .agg(expr("greatest(1, 1000000 div count(1))").as("w"))
    val jp = d4NgramJaccard(spark, dir).select(col("doc_a"), col("doc_b"))
    val u = jp.join(shx.as("x"), col("x.doc_id") === col("doc_a"))
      .select(col("doc_a"), col("doc_b"), col("x.s"))
      .unionAll(jp.join(shx.as("x"), col("x.doc_id") === col("doc_b"))
        .select(col("doc_a"), col("doc_b"), col("x.s")))
    u.groupBy(col("doc_a"), col("doc_b"), col("s"))
      .agg(count(lit(1)).as("pres"))
      .join(dfw, Seq("s"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(sum(when(col("pres") === 2, col("w")).otherwise(0L)).as("inter_w"),
        sum(col("w")).as("union_w"))
      .withColumn("wjaccard_ppm", expr("inter_w * 1000000 div union_w"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  lazy val d26Sql: String =
    s"""WITH jp AS ($d4Sql),
       |$shingleCtes,
       |shx2 AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
       |dfw AS (SELECT s, greatest(1, 1000000 // count(*)) AS w FROM shx2 GROUP BY s),
       |u AS (
       |  SELECT p.doc_a, p.doc_b, x.s
       |  FROM jp p JOIN shx2 x ON x.doc_id = p.doc_a
       |  UNION ALL
       |  SELECT p.doc_a, p.doc_b, x.s
       |  FROM jp p JOIN shx2 x ON x.doc_id = p.doc_b),
       |g AS (SELECT doc_a, doc_b, s, count(*) AS pres FROM u GROUP BY 1, 2, 3)
       |SELECT g.doc_a, g.doc_b,
       |  CAST(sum(CASE WHEN g.pres = 2 THEN dfw.w ELSE 0 END) AS BIGINT)
       |    AS inter_w,
       |  CAST(sum(dfw.w) AS BIGINT) AS union_w,
       |  CAST(sum(CASE WHEN g.pres = 2 THEN dfw.w ELSE 0 END) * 1000000
       |    // sum(dfw.w) AS BIGINT) AS wjaccard_ppm
       |FROM g JOIN dfw USING (s)
       |GROUP BY g.doc_a, g.doc_b
       |ORDER BY doc_a, doc_b""".stripMargin

  // ---- d5: embedding cosine near-dup over banded hyperplane LSH ----
  // Candidates = pairs sharing any band bucket (VectorExprs: Bands ×
  // BandBits signatures, degenerate buckets capped), deduped BEFORE
  // the expensive exact-cosine step; features are joined back onto the
  // candidate list (the d4 pattern) so vectors are never carried
  // through the 8-way band explosion.
  import graft.operators.vector.VectorExprs

  /** d5's near-dup decision threshold — shared with d8's exact ground
    * truth so the recall gauge measures exactly the pairs d5 is
    * supposed to find. */
  private val DupTheta = 0.35

  /** d5's verified pair set WITHOUT the presentation orderBy — reused
    * by d8, which re-aggregates it. */
  private def d5Pairs(spark: SparkSession, dir: String): DataFrame = {
    val capped = VectorExprs.cappedBands(spark, dir)
    val cand = capped.as("x").join(capped.as("y"),
        col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey")
          && col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("vec_a"), col("y.vec_id").as("vec_b"))
      .distinct()
    val e = VectorExprs.embFeatures(spark, dir)
    cand
      .join(e.as("a"), col("vec_a") === col("a.vec_id"))
      .join(e.as("b"), col("vec_b") === col("b.vec_id"))
      .withColumn("dot", expr(VectorExprs.dotExpr("a.vd", "b.vd")))
      .select(col("vec_a"), col("vec_b"),
        (col("dot") / (sqrt(col("a.n2")) * sqrt(col("b.n2")))).as("cosine"))
      .filter(col("cosine") > DupTheta)
  }

  def d5EmbeddingDup(spark: SparkSession, dir: String): DataFrame =
    d5Pairs(spark, dir).orderBy(col("vec_a"), col("vec_b"))

  /** d5's candidate + verified-pair CTEs (`cand`, `scored`, `dp`) over
    * [[VectorExprs.bandCtes]] — shared by d5Sql and the d8 recall
    * oracle, so a band/cap tuning change moves the gauge in
    * lockstep. */
  private val d5PairCtes: String =
    s"""cand AS (
       |  SELECT DISTINCT x.vec_id AS vec_a, y.vec_id AS vec_b
       |  FROM capped x JOIN capped y
       |    ON x.band = y.band AND x.bkey = y.bkey AND x.vec_id < y.vec_id),
       |scored AS (
       |  SELECT c.vec_a, c.vec_b,
       |    ${VectorExprs.duckDot("a.vd", "b.vd")}
       |      / (sqrt(a.n2) * sqrt(b.n2)) AS cosine
       |  FROM cand c JOIN eb a ON c.vec_a = a.vec_id JOIN eb b ON c.vec_b = b.vec_id),
       |dp AS (SELECT vec_a, vec_b, cosine FROM scored WHERE cosine > $DupTheta)""".stripMargin

  lazy val d5Sql: String =
    s"""WITH ${VectorExprs.bandCtes},
       |$d5PairCtes
       |SELECT vec_a, vec_b, cosine FROM dp ORDER BY vec_a, vec_b""".stripMargin

  // ---- d8: measured recall of the banded-LSH near-dup pass ----
  // The quality gauge d5 was missing (s8/s9's counterpart for the
  // dedup family): of the TRUE cosine>θ near-dup pairs, how many does
  // the banded-LSH candidate path actually surface? Ground truth is
  // computed for a fixed probe sample (25 vectors) as broadcast(probes)
  // × corpus — LINEAR in the corpus like s1, never all-pairs, so the
  // evaluator itself holds at 100 TB (probe count is the precision
  // knob of the estimate, not a scale limit). The approx side is d5's
  // verified output restricted to the probes, symmetrized (d5 stores
  // each pair once, a < b), through the shared recallOf — so
  // BandBits/Bands/MaxBucket are now tuned against a measured miss
  // rate: recall here, cost from bench, exactly how s8 prices s2.
  private val RecallProbes = 25

  def d8DedupRecall(spark: SparkSession, dir: String): DataFrame = {
    val e = VectorExprs.embFeatures(spark, dir)
    val exact = broadcast(e.filter(col("vec_id") < RecallProbes).as("q"))
      .join(e.as("c"), col("q.vec_id") =!= col("c.vec_id"))
      .withColumn("dot", expr(VectorExprs.dotExpr("q.vd", "c.vd")))
      .select(col("q.vec_id").as("query_id"), col("c.vec_id").as("neighbor_id"),
        (col("dot") / (sqrt(col("q.n2")) * sqrt(col("c.n2")))).as("cosine"))
      .filter(col("cosine") > DupTheta)
    val dp = d5Pairs(spark, dir)
    val approx = dp.select(col("vec_a").as("query_id"), col("vec_b").as("neighbor_id"))
      .union(dp.select(col("vec_b").as("query_id"), col("vec_a").as("neighbor_id")))
      .filter(col("query_id") < RecallProbes)
    graft.operators.similarity.SimilarityOps.recallOf(exact, approx)
  }

  lazy val d8Sql: String =
    s"""WITH ${VectorExprs.bandCtes},
       |$d5PairCtes,
       |xp AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |    ${VectorExprs.duckDot("q.vd", "c.vd")}
       |      / (sqrt(q.n2) * sqrt(c.n2)) AS cosine
       |  FROM eb q, eb c
       |  WHERE q.vec_id < $RecallProbes AND q.vec_id != c.vec_id),
       |exact AS (SELECT query_id, neighbor_id FROM xp WHERE cosine > $DupTheta),
       |approx AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT vec_a AS query_id, vec_b AS neighbor_id FROM dp
       |    UNION ALL
       |    SELECT vec_b AS query_id, vec_a AS neighbor_id FROM dp) u
       |  WHERE query_id < $RecallProbes)
       |${graft.operators.similarity.SimilarityOps.recallTailSql}""".stripMargin

  // ---- d6: duplicate-cluster assignment (the dedup DECISION list) ----
  // The output a dedup pipeline actually acts on: connected components
  // over the Jaccard-verified candidate-pair graph (d4's edges), each
  // doc labeled with its cluster id (= min doc_id of the cluster) and
  // a keep/drop flag, by `pairClusters`; dup clusters have tiny
  // diameter, so it converges in a handful of rounds regardless of
  // corpus size. Only docs that appear in some near-dup pair are
  // emitted — singletons are implicitly kept.
  def d6DupClusters(spark: SparkSession, dir: String): DataFrame =
    pairClusters(d4NgramJaccard(spark, dir))

  /** Keep/drop decisions over a (doc_a, doc_b) pair table: connected
    * components of the symmetric pair graph by the shared min-label
    * fixpoint (one clustering machinery for every pair generator),
    * cluster_id = min doc_id, keep-min. Emits only docs in some pair. */
  private def pairClusters(pairs: DataFrame): DataFrame = {
    val sym = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
    val start = sym.select(col("src").as("node")).distinct()
      .select(col("node"), col("node").as("lbl"))
    graft.operators.graph.GraphOps
      .minLabelFixpoint(sym, start, maxIters = 50, mustConverge = true)
      .select(col("node").as("doc_id"), col("lbl").as("cluster_id"),
        (col("node") === col("lbl")).as("is_kept"))
      .orderBy(col("doc_id"))
  }

  // Oracle: transitive closure over the (tiny) dup-pair graph —
  // cluster id = min reachable doc_id (including self).
  lazy val d6Sql: String =
    s"""WITH jp AS ($d4Sql),
       |e AS (SELECT doc_a AS a, doc_b AS b FROM jp
       |      UNION SELECT doc_b, doc_a FROM jp),
       |nodes AS (SELECT DISTINCT a AS n FROM e),
       |reach AS (
       |  WITH RECURSIVE r(a, b) AS (
       |    SELECT a, b FROM e
       |    UNION
       |    SELECT r.a, e.b FROM r JOIN e ON r.b = e.a)
       |  SELECT a, b FROM r)
       |SELECT n.n AS doc_id,
       |  least(n.n, min(r.b)) AS cluster_id,
       |  n.n = least(n.n, min(r.b)) AS is_kept
       |FROM nodes n JOIN reach r ON r.a = n.n
       |GROUP BY n.n ORDER BY doc_id""".stripMargin

  // ---- d33: dup-cluster source-mix histogram ----
  // d14 counts cross-source PAIRS; this is the cluster-level view a
  // licensing/provenance review reads: of the near-dup clusters of
  // size k, how many span 1, 2, 3… distinct sources? Mass on the
  // n_sources = 1 diagonal means dup removal is an intra-source
  // cleanup; off-diagonal mass means sources are republishing each
  // other and keeper policy decides WHOSE copy survives (d27's
  // question, sized). Rides d6's converged fixpoint labels; the
  // source attach is one doc_id-keyed join; output is a bounded
  // (size × sources) histogram, n_sources ≤ size by construction
  // (spec-pinned).
  def d33DupSourceMix(spark: SparkSession, dir: String): DataFrame =
    d6DupClusters(spark, dir).select(col("doc_id"), col("cluster_id"))
      .join(docs(spark, dir).select(col("doc_id"), col("source")), Seq("doc_id"))
      .groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("sz"), countDistinct(col("source")).as("ns"))
      .groupBy(col("sz").as("cluster_size"), col("ns").as("n_sources"))
      .agg(count(lit(1)).as("n_clusters"))
      .orderBy(col("cluster_size"), col("n_sources"))

  lazy val d33Sql: String =
    s"""WITH cl AS ($d6Sql),
       |per AS (
       |  SELECT c.cluster_id, count(*) AS sz,
       |    count(DISTINCT d.source) AS ns
       |  FROM cl c JOIN documents d ON c.doc_id = d.doc_id
       |  GROUP BY c.cluster_id)
       |SELECT CAST(sz AS BIGINT) AS cluster_size,
       |  CAST(ns AS BIGINT) AS n_sources,
       |  count(*) AS n_clusters
       |FROM per GROUP BY 1, 2 ORDER BY cluster_size, n_sources""".stripMargin

  // ---- d27: keeper-policy comparison (min-id vs longest-doc) ----
  // d6 keeps the min doc_id per cluster — deterministic and cheap,
  // but a curation run usually wants the RICHEST representative
  // (longest doc: most content survives). d27 prices the difference
  // before anyone switches policy: per cluster, both keepers, whether
  // they differ, and the kept-characters delta. The aggregate-level
  // report (how many clusters change, how much content is at stake)
  // is one filter away. Plan: rides d6's fixpoint labels; the
  // n_chars attach is a doc_id-keyed join; the per-cluster argmax is
  // min(struct(−n_chars, doc_id)) — map-side combined, no window over
  // anything cluster-sized. Longest-doc tie-break = smaller doc_id,
  // pinned identically in the oracle's row_number.
  def d27KeeperPolicies(spark: SparkSession, dir: String): DataFrame = {
    val len = docs(spark, dir).select(col("doc_id"), col("n_chars").cast("long"))
    d6DupClusters(spark, dir)
      .join(len, Seq("doc_id"))
      .groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("cluster_size"),
        min(col("doc_id")).as("keep_minid"),
        min(when(col("doc_id") === col("cluster_id"), col("n_chars")))
          .as("minid_chars"),
        min(struct((-col("n_chars")).as("nn"), col("doc_id").as("id"))).as("m"))
      .select(col("cluster_id"), col("cluster_size"), col("keep_minid"),
        col("minid_chars"), col("m.id").as("keep_longest"),
        (-col("m.nn")).as("longest_chars"))
      .withColumn("differs", col("keep_minid") =!= col("keep_longest"))
      .withColumn("chars_gained", col("longest_chars") - col("minid_chars"))
      .orderBy(col("cluster_id"))
  }

  lazy val d27Sql: String =
    s"""WITH cl AS ($d6Sql),
       |j AS (SELECT cl.doc_id, cl.cluster_id, CAST(d.n_chars AS BIGINT) AS nc
       |      FROM cl JOIN documents d ON cl.doc_id = d.doc_id),
       |lng AS (SELECT cluster_id, doc_id AS keep_longest, nc AS longest_chars
       |        FROM (SELECT *, row_number() OVER (PARTITION BY cluster_id
       |                ORDER BY nc DESC, doc_id) AS rn FROM j) WHERE rn = 1),
       |agg AS (SELECT cluster_id, count(*) AS cluster_size,
       |          min(doc_id) AS keep_minid,
       |          CAST(min(CASE WHEN doc_id = cluster_id THEN nc END) AS BIGINT)
       |            AS minid_chars
       |        FROM j GROUP BY cluster_id)
       |SELECT a.cluster_id, a.cluster_size, a.keep_minid, a.minid_chars,
       |  l.keep_longest, l.longest_chars,
       |  a.keep_minid <> l.keep_longest AS differs,
       |  l.longest_chars - a.minid_chars AS chars_gained
       |FROM agg a JOIN lng l USING (cluster_id)
       |ORDER BY cluster_id""".stripMargin

  // ---- d28: prefix dedup (the cheap first-pass gate) ----
  // The trick production crawls run BEFORE any minhash machinery:
  // documents sharing an identical leading prefix (boilerplate
  // headers, mirrored pages, template spam) collapse on the prefix
  // alone — one hash-groupBy over a 48-char substring, no shingles,
  // no candidate joins, map-side combined end to end. At 100 TB this
  // is the O(corpus) pass that typically removes the bulk of exact-
  // head duplication for ~1% of the LSH pipeline's cost; what
  // survives proceeds to d2/d15. Groups are keyed by the prefix MD5
  // (the full prefix never shuffles), keeper = min doc_id (d1/d6
  // convention), with the cross-source spread as the triage signal
  // (mirrored-across-sources vs within-source template).
  def d28PrefixDup(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .select(col("doc_id"), col("source"),
        md5(substring(col("text"), 1, 48)).as("pk"))
      .groupBy(col("pk"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("keep_doc"),
        max(col("doc_id")).as("max_doc"),
        countDistinct(col("source")).as("n_sources"))
      .filter(col("n_docs") >= 2)
      .orderBy(col("pk"))

  lazy val d28Sql: String =
    """SELECT md5(substr(text, 1, 48)) AS pk, count(*) AS n_docs,
      |  min(doc_id) AS keep_doc, max(doc_id) AS max_doc,
      |  count(DISTINCT source) AS n_sources
      |FROM documents GROUP BY 1 HAVING count(*) >= 2
      |ORDER BY pk""".stripMargin

  // ---- d29: duplication rate by document length ----
  // WHO duplicates? The stratified answer: docs binned by length
  // (200-char bins), per bin the fraction that sits in any d6
  // cluster and the fraction actually dropped, exact ppm. Short docs
  // duplicating (boilerplate fragments) ask for a length floor;
  // long docs duplicating (mirrored articles) ask for more LSH
  // bands — the knob this report chooses between. Rides the cached
  // d6 fixpoint labels via one doc_id-keyed left join into doc
  // metadata (text never shuffles), then one map-side-combined
  // aggregate to the bounded length-bin grid.
  def d29DupRateByLength(spark: SparkSession, dir: String): DataFrame = {
    val labels = d6DupClusters(spark, dir)
      .select(col("doc_id"), (col("doc_id") =!= col("cluster_id")).as("dropped"))
    docs(spark, dir)
      .select(col("doc_id"), expr("n_chars div 200").as("len_bin"))
      .join(labels, Seq("doc_id"), "left_outer")
      .groupBy(col("len_bin"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("dropped").isNotNull, 1L).otherwise(0L)).as("n_clustered"),
        sum(when(col("dropped") === true, 1L).otherwise(0L)).as("n_dropped"))
      .withColumn("dup_ppm", expr("n_clustered * 1000000 div n_docs"))
      .orderBy(col("len_bin"))
  }

  lazy val d29Sql: String =
    s"""WITH cl AS ($d6Sql),
       |lb AS (SELECT d.doc_id, d.n_chars // 200 AS len_bin,
       |         cl.doc_id IS NOT NULL AS clustered,
       |         coalesce(cl.doc_id <> cl.cluster_id, FALSE) AS dropped
       |       FROM documents d LEFT JOIN cl ON d.doc_id = cl.doc_id)
       |SELECT len_bin, count(*) AS n_docs,
       |  CAST(sum(CASE WHEN clustered THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_clustered,
       |  CAST(sum(CASE WHEN dropped THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_dropped,
       |  CAST(sum(CASE WHEN clustered THEN 1 ELSE 0 END) AS BIGINT)
       |    * 1000000 // count(*) AS dup_ppm
       |FROM lb GROUP BY 1 ORDER BY len_bin""".stripMargin

  // ---- d7: train/val contamination screening ----
  // The eval-integrity check an LLM pipeline runs before training:
  // near-duplicate pairs that CROSS the train/validation split (a val
  // doc near-duplicating a train doc leaks the benchmark). Pure
  // composition of existing machinery — d4's Jaccard-verified LSH
  // pairs (cached) + t7's deterministic hash split — so the screening
  // inherits the bucketed, capped candidate generation: no new scan
  // shape, no new shuffle class, scales exactly as d2/d4 do.
  def d7Contamination(spark: SparkSession, dir: String): DataFrame = {
    val sp = docs(spark, dir).select(col("doc_id"),
      when(expr("((doc_id % 2147483647) * 2654435761) % 2147483647 % 100") < 90,
        lit("train")).otherwise(lit("val")).as("split"))
    d4NgramJaccard(spark, dir)
      .join(sp.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sp.as("sb"), col("doc_b") === col("sb.doc_id"))
      .filter(col("sa.split") =!= col("sb.split"))
      .select(col("doc_a"), col("sa.split").as("split_a"),
        col("doc_b"), col("sb.split").as("split_b"), col("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  lazy val d7Sql: String =
    s"""WITH jp AS ($d4Sql),
       |sp AS (
       |  SELECT doc_id,
       |    CASE WHEN ((doc_id % 2147483647) * 2654435761) % 2147483647 % 100 < 90
       |         THEN 'train' ELSE 'val' END AS split
       |  FROM documents)
       |SELECT jp.doc_a, sa.split AS split_a, jp.doc_b, sb.split AS split_b, jp.jaccard
       |FROM jp JOIN sp sa ON jp.doc_a = sa.doc_id
       |        JOIN sp sb ON jp.doc_b = sb.doc_id
       |WHERE sa.split <> sb.split
       |ORDER BY doc_a, doc_b""".stripMargin

  // ---- d9: incremental dedup — persisted band index + shard probe ----
  // The warm-start the pipeline family was missing (the AnalysisRound
  // resume of Runner.java:68 storeRound/loadArray, applied to dedup):
  // instead of re-deduping the full corpus every run, the corpus's
  // band rows and shingle features are persisted ONCE as bucketed
  // parquet tables ([[graft.sources.TableIO.writeBucketed]]), and each
  // arriving shard probes them:
  //  - the (new bands ⋈ persisted bands) candidate join is co-located
  //    on the bucketed side — the 100 TB corpus index never shuffles
  //    again, only the shard does (TableIOSpec proves the
  //    exchange-free bucketed-join plan);
  //  - the degenerate-bucket cap is applied to the COMBINED
  //    (persisted + shard) bucket population — the persisted side's
  //    counts come from an exchange-free aggregate over the bucketed
  //    table — so incremental output equals the full-corpus pair set
  //    exactly (IncrementalDedupSpec asserts the ≡ on an arbitrary
  //    split; the d9 gate re-proves it against the full-corpus oracle
  //    every round);
  //  - new×new pairs come from the shard's band self-join (shard-sized),
  //    and verification joins shingles from persisted ∪ shard.
  // Band keys are packed to one long (band*(2^31-1)+bkey, disjoint
  // ranges) so the bucketed layout co-locates on a single column.
  private def bandIndexRows(docsDf: DataFrame): DataFrame =
    bandRowsOf(shinglesOf(docsDf))
      .select(col("doc_id"),
        (col("band") * lit(2147483647L) + col("bkey")).as("bk"))

  /** Build + persist the dedup index for a corpus: band rows bucketed
    * by packed band key, shingle features bucketed by doc_id. Bucket
    * count is the cluster-parallelism knob (32 here ≈ local cores; at
    * 100 TB size it so each bucket is a few hundred MB). */
  def buildDedupIndex(spark: SparkSession, corpusDocs: DataFrame,
      name: String, path: String, buckets: Int = 32): Unit = {
    graft.sources.TableIO.writeBucketed(
      bandIndexRows(corpusDocs), s"${name}_bands", s"$path/bands", "bk", buckets)
    graft.sources.TableIO.writeBucketed(
      shinglesOf(corpusDocs), s"${name}_shingles", s"$path/shingles", "doc_id", buckets)
  }

  /** Near-dup pairs INVOLVING the new shard (new×corpus ∪ new×new),
    * Jaccard-verified — the corpus index is only probed, never
    * rebuilt. Shard doc_ids must be disjoint from the corpus's. */
  def dedupNewShard(spark: SparkSession, newDocs: DataFrame, name: String): DataFrame = {
    graft.functions.GraftFunctions.registerAll(spark)
    val oldBands = spark.table(s"${name}_bands")
    val oldSh = spark.table(s"${name}_shingles")
    val newSh = shinglesOf(newDocs)
    val newBands = bandIndexRows(newDocs)
    // combined-population cap: persisted-side counts aggregate without
    // an exchange (groupBy on the bucket column)
    val ok = oldBands.groupBy(col("bk")).agg(count(lit(1)).as("n_old"))
      .join(newBands.groupBy(col("bk")).agg(count(lit(1)).as("n_new")),
        Seq("bk"), "full_outer")
      .filter(coalesce(col("n_old"), lit(0L)) + coalesce(col("n_new"), lit(0L))
        <= MaxBucket)
      .select(col("bk"))
    val nb = newBands.join(ok, Seq("bk"))
    val no = nb.as("x").join(oldBands.as("y"), Seq("bk"))
      .filter(col("x.doc_id") =!= col("y.doc_id"))
      .select(least(col("x.doc_id"), col("y.doc_id")).as("doc_a"),
        greatest(col("x.doc_id"), col("y.doc_id")).as("doc_b"))
    val nn = nb.as("x").join(nb.as("y"),
        col("x.bk") === col("y.bk") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
    val cand = no.union(nn).distinct()
    jaccardVerified(cand, oldSh.unionByName(newSh))
  }

  /** Fold a processed shard INTO the persisted index (band + shingle
    * rows appended in their bucket lanes) so later shards dedup
    * against it too — with [[dedupNewShard]] this is the full
    * incremental loop: probe, emit pairs, accumulate. The bucket
    * count is read from the existing table, so appends always match
    * the layout the index was built with. */
  def appendToDedupIndex(spark: SparkSession, shardDocs: DataFrame,
      name: String): Unit = {
    def bucketsOf(table: String): Int = spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(table))
      .bucketSpec.map(_.numBuckets)
      .getOrElse(sys.error(s"$table is not a bucketed table"))
    graft.sources.TableIO.appendBucketed(
      bandIndexRows(shardDocs), s"${name}_bands", "bk", bucketsOf(s"${name}_bands"))
    graft.sources.TableIO.appendBucketed(
      shinglesOf(shardDocs), s"${name}_shingles", "doc_id",
      bucketsOf(s"${name}_shingles"))
    // the session caches each catalog table's resolved relation (file
    // listing included); without the refresh a later probe in the
    // SAME session silently reads the pre-append file set
    spark.catalog.refreshTable(s"${name}_bands")
    spark.catalog.refreshTable(s"${name}_shingles")
  }

  /** Full-pipeline verified pairs of an arbitrary documents DataFrame
    * (d2 candidates + d4 verification, one call) — the reference side
    * of IncrementalDedupSpec's corpus∪shard ≡ full equivalence. */
  def verifiedPairs(spark: SparkSession, docsDf: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.registerAll(spark)
    val bands = bandIndexRows(docsDf)
    val capped = graft.util.Buckets.cap(bands, Seq("bk"), MaxBucket)
    val cand = capped.as("x").join(capped.as("y"),
        col("x.bk") === col("y.bk") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    jaccardVerified(cand, shinglesOf(docsDf))
  }

  private def isNewDoc =
    expr("((doc_id % 2147483647) * 2654435761) % 2147483647 % 100 >= 90")

  // one build per (session, dir) — DfCache's keying pattern, for a
  // side effect (two persisted tables) instead of a DataFrame
  private val builtIdx = new java.util.HashSet[(SparkSession, String)]()

  /** The gated corpus index (corpus = the 90% side of d7's split
    * hash), built ONCE per (session, dir) — the production shape: a
    * dedup index is persisted once and amortized over every shard
    * probe, so repeated d9 calls (and the bench) measure the PROBE,
    * not a rebuild. The build itself derives from the session-cached
    * shingle/band tables (identical rows to shinglesOf/bandIndexRows
    * on the corpus subset — the split predicate is on doc_id alone),
    * so it reshuffles into buckets without recomputing minhashes. */
  def gatedDedupIndex(spark: SparkSession, dir: String): String = {
    val dirKey = dir.replaceAll("[^A-Za-z0-9]", "_")
    val name = s"graft_dedup_idx_$dirKey"
    val build = synchronized { builtIdx.add((spark, dir)) }
    if (build) {
      val path =
        s"${graft.operators.graph.GraphOps.checkpointRoot(spark)}/graft_dedup_idx_$dirKey"
      graft.sources.TableIO.writeBucketed(
        bandTable(spark, dir).filter(!isNewDoc)
          .select(col("doc_id"),
            (col("band") * lit(2147483647L) + col("bkey")).as("bk")),
        s"${name}_bands", s"$path/bands", "bk", 32)
      graft.sources.TableIO.writeBucketed(
        shingleFeatures(spark, dir).filter(!isNewDoc),
        s"${name}_shingles", s"$path/shingles", "doc_id", 32)
    }
    name
  }

  /** The gated instance: probe the 10% shard against the persisted
    * corpus index. The oracle recomputes the SAME pair set from the
    * full corpus (all candidates with ≥1 shard endpoint,
    * Jaccard-verified) — so the gate IS the incremental ≡ full
    * equivalence at gate scale. */
  def d9IncrementalDedup(spark: SparkSession, dir: String): DataFrame = {
    val name = gatedDedupIndex(spark, dir)
    dedupNewShard(spark, docs(spark, dir).filter(isNewDoc), name)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  lazy val d9Sql: String =
    s"""WITH $lshCtes,
       |spl AS (
       |  SELECT doc_id,
       |    ((doc_id % 2147483647) * 2654435761) % 2147483647 % 100 >= 90 AS is_new
       |  FROM documents),
       |candn AS (
       |  SELECT c.doc_a, c.doc_b FROM cand c
       |  JOIN spl a ON c.doc_a = a.doc_id
       |  JOIN spl b ON c.doc_b = b.doc_id
       |  WHERE a.is_new OR b.is_new),
       |shx AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
       |ns AS (SELECT doc_id, len(shingles) AS n FROM sh),
       |inter AS (
       |  SELECT c.doc_a, c.doc_b, count(*) AS inter
       |  FROM candn c
       |  JOIN shx a ON a.doc_id = c.doc_a
       |  JOIN shx b ON b.doc_id = c.doc_b AND a.s = b.s
       |  GROUP BY c.doc_a, c.doc_b)
       |SELECT i.doc_a, i.doc_b,
       |  CAST(i.inter AS DOUBLE) / (na.n + nb.n - i.inter) AS jaccard
       |FROM inter i
       |JOIN ns na ON i.doc_a = na.doc_id
       |JOIN ns nb ON i.doc_b = nb.doc_id
       |WHERE CAST(i.inter AS DOUBLE) / (na.n + nb.n - i.inter) >= $JaccardTheta
       |ORDER BY doc_a, doc_b""".stripMargin

  // ---- d10: span-level exact duplication (repeated n-gram spans) ----
  // The dedup the whole-doc family (d1–d9) cannot see: training
  // corpora are full of documents that are globally unique but carry
  // long VERBATIM spans repeated across documents (boilerplate,
  // licenses, quoted posts) — the case for substring-level dedup in
  // Lee et al., "Deduplicating Training Data Makes Language Models
  // Better" (ACL 2022). Per document: how many of its positional
  // SpanN-word spans (rolling base-131 hash over the d2 word values —
  // positional, NOT the distinct/sorted shingle set) also occur in at
  // least one OTHER document, and what fraction of the document that
  // is. A curation pass drops or trims docs by `dup_frac` exactly
  // like t8 drops by quality score.
  //
  // Scale: the explode is one positional span row per token — linear,
  // like t5. Then three bounded shuffles: (1) groupBy (h, doc_id)
  // with map-side combine collapses repeats within a doc; (2) the
  // duplicated-hash table `dup` keeps ONLY hashes seen in ≥2 docs —
  // at 100 TB that's the boilerplate minority, far smaller than the
  // span table, so the join back is a hash join whose build side AQE
  // can broadcast, and a hot span (site-wide boilerplate) is a skewed
  // JOIN key AQE skew-splits, not a window partition it can't;
  // (3) the per-doc rollup. No suffix array, no sort of the corpus —
  // the hash join IS the suffix-match at fixed span length.
  private[operators] val SpanN = 8

  /** Positional span hashes of each ≥SpanN-word doc: spans[i] =
    * fold(base 131, wvs[i..i+SpanN-1]) mod 2^31-1 — each step stays
    * < 2^31·131, so the Long arithmetic cannot wrap and the DuckDB
    * fold is bit-identical. */
  private[operators] val spanHashesExpr =
    s"""transform(sequence(1, size(wvs) - ${SpanN - 1}), i ->
       |  aggregate(sequence(i, i + ${SpanN - 1}), cast(0 as bigint),
       |    (a, j) -> (a*131 + element_at(wvs, j)) % 2147483647))""".stripMargin

  /** The span-group table (h, doc_id, n_pos): one row per distinct
    * (span hash, doc) with its positional multiplicity. Both d10
    * consumers (the per-doc rollup's probe side and the
    * duplicated-hash build side) read it — without materialization
    * Catalyst column-prunes the two subtrees differently (`n_pos`
    * survives only one), ReuseExchange can't unify them, and the
    * corpus is scanned + exploded twice. */
  def spanGroupsOf(docsDf: DataFrame): DataFrame =
    docsDf
      .filter(size(split(col("text"), " ")) >= SpanN)
      .withColumn("wvs", expr(wvsExpr))
      .select(col("doc_id"), explode(expr(spanHashesExpr)).as("h"))
      .groupBy(col("h"), col("doc_id"))
      .agg(count(lit(1)).as("n_pos"))

  /** d10's rollup over a span-group table — `g` is read twice, so the
    * gated path hands in the DfCache'd instance. */
  def spanDedupFromGroups(g: DataFrame): DataFrame = {
    val dup = g.groupBy(col("h"))
      .agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= 2)
      .select(col("h"), lit(true).as("is_dup"))
    g.join(dup, Seq("h"), "left_outer")
      .groupBy(col("doc_id"))
      .agg(sum(col("n_pos")).as("n_spans"),
        coalesce(sum(when(col("is_dup"), col("n_pos"))), lit(0L)).as("n_dup_spans"))
      .withColumn("dup_frac",
        col("n_dup_spans").cast("double") / col("n_spans"))
      .orderBy(col("doc_id"))
  }

  /** d10's body over an arbitrary documents-shaped DataFrame (needs
    * doc_id, text) — the spec feeds synthetic corpora with known
    * span overlap. Uncached: spec corpora are rows, not tables. */
  def spanDedupOf(docsDf: DataFrame): DataFrame =
    spanDedupFromGroups(spanGroupsOf(docsDf))

  def d10SpanDedup(spark: SparkSession, dir: String): DataFrame =
    spanDedupFromGroups(graft.util.DfCache.cached(spark, dir, "span_groups") {
      spanGroupsOf(docs(spark, dir))
    })

  lazy val d10Sql: String =
    s"""WITH wv AS (
       |  SELECT doc_id,
       |    list_transform(string_split(text,' '),
       |      w -> (CAST(length(w) AS BIGINT)*31 + ascii(substr(w,1,1)))*31
       |           + ascii(substr(w,-1,1))) AS wvs
       |  FROM documents WHERE len(string_split(text,' ')) >= $SpanN),
       |sp AS (
       |  SELECT doc_id,
       |    unnest([ list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      [ wvs[j] for j in generate_series(i, i + ${SpanN - 1}) ]),
       |      (a, x) -> (a*131 + x) % 2147483647)
       |      for i in generate_series(1, len(wvs) - ${SpanN - 1}) ]) AS h
       |  FROM wv),
       |gp AS (SELECT h, doc_id, count(*) AS n_pos FROM sp GROUP BY h, doc_id),
       |dup AS (SELECT h FROM gp GROUP BY h HAVING count(*) >= 2)
       |SELECT gp.doc_id, CAST(sum(gp.n_pos) AS BIGINT) AS n_spans,
       |  CAST(coalesce(sum(CASE WHEN d.h IS NOT NULL THEN gp.n_pos END), 0) AS BIGINT)
       |    AS n_dup_spans,
       |  CAST(coalesce(sum(CASE WHEN d.h IS NOT NULL THEN gp.n_pos END), 0) AS DOUBLE)
       |    / sum(gp.n_pos) AS dup_frac
       |FROM gp LEFT JOIN dup d ON gp.h = d.h
       |GROUP BY gp.doc_id ORDER BY gp.doc_id""".stripMargin

  // ---- d12: precision gauge of the banded-LSH candidate pass ----
  // d8 measures what the bands MISS (recall); d12 measures what they
  // WASTE: per band, the fraction of generated candidate pairs that
  // verify as true near-dups (cosine > θ). Together they price the
  // Bands/BandBits/MaxBucket knobs from both sides — recall says add
  // bands, precision says each band's candidates cost real cosine
  // work, and a band whose precision_ppm collapses is pure overhead.
  // Plan: the per-band candidate join is exactly d5's (band kept in
  // the projection), the verified set is computed ONCE (d5's shared
  // pair set — not re-scored per band), and the verdict is a left
  // join on the pair key. Integer ppm — no float division in the
  // gate.
  def d12DedupPrecision(spark: SparkSession, dir: String): DataFrame = {
    val capped = VectorExprs.cappedBands(spark, dir)
    val candB = capped.as("x").join(capped.as("y"),
        col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey")
          && col("x.vec_id") < col("y.vec_id"))
      .select(col("x.band").cast("long").as("band"),
        col("x.vec_id").as("vec_a"), col("y.vec_id").as("vec_b"))
      .distinct()
    val verified = d5Pairs(spark, dir)
      .select(col("vec_a"), col("vec_b"), lit(1).as("hit"))
    candB.join(verified, Seq("vec_a", "vec_b"), "left")
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n_cand"), count(col("hit")).as("n_true"))
      .withColumn("precision_ppm", expr("n_true * 1000000 DIV n_cand"))
      .orderBy(col("band"))
  }

  lazy val d12Sql: String =
    s"""WITH ${VectorExprs.bandCtes},
       |$d5PairCtes,
       |candb AS (
       |  SELECT DISTINCT x.band, x.vec_id AS vec_a, y.vec_id AS vec_b
       |  FROM capped x JOIN capped y
       |    ON x.band = y.band AND x.bkey = y.bkey AND x.vec_id < y.vec_id)
       |SELECT cb.band, count(*) AS n_cand, count(d.vec_a) AS n_true,
       |  count(d.vec_a) * 1000000 // count(*) AS precision_ppm
       |FROM candb cb LEFT JOIN dp d
       |  ON cb.vec_a = d.vec_a AND cb.vec_b = d.vec_b
       |GROUP BY cb.band ORDER BY band""".stripMargin

  // ---- d13: minhash-estimate fidelity vs exact Jaccard ----
  // The signature-length gauge: per d2 candidate pair, the Jaccard
  // the 64-perm signature ESTIMATES (matching components / 64) next
  // to the exact n-gram Jaccard d4 computes — est error prices the
  // 64-perm choice the way s8 prices Bands. A production pipeline
  // reads the err distribution before trusting signature-only dedup
  // (skipping d4's verify pass entirely is the 100 TB temptation —
  // this gauge says what that costs). All-integer ppm on both
  // engines: component equality, one merge-pass intersect, two
  // integer divisions. |candidates| rows flow; signature compare is
  // O(64) per pair.
  def d13MinhashEstimate(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.registerAll(spark)
    val sig = shingleFeatures(spark, dir)
      .withColumn("mh", expr(mhExpr))
      .select(col("doc_id"), col("mh"), col("shingles"))
    d2MinhashLsh(spark, dir)
      .join(sig.as("a"), col("doc_a") === col("a.doc_id"))
      .join(sig.as("b"), col("doc_b") === col("b.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        expr("aggregate(zip_with(a.mh, b.mh, (x, y) -> IF(x = y, 1, 0))," +
          " 0, (acc, v) -> acc + v)").as("n_match"),
        expr("graft_sorted_intersect_count(a.shingles, b.shingles)").as("inter"),
        (size(col("a.shingles")) + size(col("b.shingles"))).as("ssum"))
      .select(col("doc_a"), col("doc_b"),
        expr("cast(n_match as bigint) * 1000000 DIV 64").as("est_ppm"),
        expr("cast(inter as bigint) * 1000000 DIV (ssum - inter)").as("exact_ppm"))
      .withColumn("err_ppm", col("est_ppm") - col("exact_ppm"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  lazy val d13Sql: String =
    s"""WITH $lshCtes,
       |shx AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
       |ns AS (SELECT doc_id, len(shingles) AS n FROM sh),
       |inter AS (
       |  SELECT c.doc_a, c.doc_b, count(*) AS inter
       |  FROM cand c
       |  JOIN shx a ON a.doc_id = c.doc_a
       |  JOIN shx b ON b.doc_id = c.doc_b AND a.s = b.s
       |  GROUP BY c.doc_a, c.doc_b),
       |est AS (
       |  SELECT c.doc_a, c.doc_b,
       |    CAST(list_sum(list_transform(generate_series(1, 64),
       |      p -> CASE WHEN ma.mh[p] = mb.mh[p] THEN 1 ELSE 0 END)) AS BIGINT)
       |      AS n_match
       |  FROM cand c
       |  JOIN mh ma ON c.doc_a = ma.doc_id
       |  JOIN mh mb ON c.doc_b = mb.doc_id)
       |SELECT e.doc_a, e.doc_b,
       |  e.n_match * 1000000 // 64 AS est_ppm,
       |  CAST(coalesce(i.inter, 0) AS BIGINT) * 1000000
       |    // (na.n + nb.n - coalesce(i.inter, 0)) AS exact_ppm,
       |  e.n_match * 1000000 // 64
       |    - CAST(coalesce(i.inter, 0) AS BIGINT) * 1000000
       |      // (na.n + nb.n - coalesce(i.inter, 0)) AS err_ppm
       |FROM est e
       |LEFT JOIN inter i ON e.doc_a = i.doc_a AND e.doc_b = i.doc_b
       |JOIN ns na ON e.doc_a = na.doc_id
       |JOIN ns nb ON e.doc_b = nb.doc_id
       |ORDER BY e.doc_a, e.doc_b""".stripMargin

  // ---- d11: semantic dedup within trained kmeans clusters ----
  // The SemDeDup shape (Abbas et al. 2023, "SemDeDup: Data-efficient
  // learning at web-scale through semantic deduplication"): embed,
  // kmeans-cluster, then drop near-duplicate pairs WITHIN each
  // cluster — the coarse quantizer bounds candidate generation the
  // way d5's band buckets do, but in semantic space, so paraphrases
  // land in the same cluster even when no band key collides. Keep
  // policy is deterministic: drop v iff some same-cluster u < v has
  // cosine > θ (the "dominated by any smaller id" rule — d1's
  // keep-min convention, antijoin-shaped, engine-portable; θ shared
  // with d5/d8 so the quality board prices one threshold). Plan: the
  // cached trained assignment joins features once, self-joins
  // CO-PARTITIONED on cluster (one shuffle per side, no broadcast of
  // the corpus); k grows with the corpus, so per-cluster population —
  // and the quadratic-within-cluster pair count — stays bounded at
  // 100 TB exactly as the paper argues.
  def d11SemDedup(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.similarity.SimilarityOps
    val m = SimilarityOps.trainedAssignment(spark, dir)
      .join(VectorExprs.embFeatures(spark, dir), Seq("vec_id"))
      .select(col("vec_id"), col("cluster"), col("vd"), col("n2"))
    val dropped = m.as("a").join(m.as("b"),
        col("a.cluster") === col("b.cluster")
          && col("a.vec_id") < col("b.vec_id"))
      .withColumn("dot", expr(VectorExprs.dotExpr("a.vd", "b.vd")))
      .filter(col("dot") / (sqrt(col("a.n2")) * sqrt(col("b.n2"))) > DupTheta)
      .select(col("b.vec_id").as("vec_id")).distinct()
    m.join(dropped.withColumn("hit", lit(1)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster"), col("hit").isNull.as("keep"))
      .orderBy(col("vec_id"))
  }

  lazy val d11Sql: String =
    s"""WITH ${graft.operators.similarity.SimilarityOps.assignCtes},
       |m AS (SELECT a2.vec_id, a2.cluster, eb.vd, eb.n2
       |      FROM a2 JOIN eb ON a2.vec_id = eb.vec_id),
       |dropped AS (
       |  SELECT DISTINCT b.vec_id FROM m a JOIN m b
       |    ON a.cluster = b.cluster AND a.vec_id < b.vec_id
       |  WHERE ${VectorExprs.duckDot("a.vd", "b.vd")}
       |        / (sqrt(a.n2) * sqrt(b.n2)) > $DupTheta)
       |SELECT m.vec_id, m.cluster, d.vec_id IS NULL AS keep
       |FROM m LEFT JOIN dropped d ON m.vec_id = d.vec_id
       |ORDER BY m.vec_id""".stripMargin

  // ---- d14: cross-source duplication matrix ----
  // The provenance report a curation run reads next to d8/d12's
  // quality gauges: WHICH sources duplicate each other — mirror sites,
  // syndication, scraped re-posts all show up as off-diagonal mass;
  // the diagonal is within-source boilerplate. Pure composition: d4's
  // verified near-dup pairs (cached — d6/d7 already read them) joined
  // to the documents table's source column on both endpoints, pair
  // direction normalized by least/greatest so (web, wiki) and (wiki,
  // web) are one cell. Two broadcast-able lookups of (doc_id, source)
  // + one map-side-combined count — |verified pairs| rows flow, the
  // candidate-generation caps already bounded those. Exact-integer
  // gate (counts only).
  def d14CrossSourceDup(spark: SparkSession, dir: String): DataFrame = {
    val src = docs(spark, dir).select(col("doc_id"), col("source"))
    d4NgramJaccard(spark, dir)
      .join(src.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(src.as("sb"), col("doc_b") === col("sb.doc_id"))
      .select(least(col("sa.source"), col("sb.source")).as("source_a"),
        greatest(col("sa.source"), col("sb.source")).as("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy(col("source_a"), col("source_b"))
  }

  lazy val d14Sql: String =
    s"""WITH jp AS ($d4Sql)
       |SELECT least(da.source, db.source) AS source_a,
       |  greatest(da.source, db.source) AS source_b,
       |  count(*) AS n_pairs
       |FROM jp
       |JOIN documents da ON jp.doc_a = da.doc_id
       |JOIN documents db ON jp.doc_b = db.doc_id
       |GROUP BY 1, 2 ORDER BY source_a, source_b""".stripMargin

  // ---- d15: near-dup pairs via shared winnowed fingerprints ----
  // The MOSS composition closing t17 into the dedup family: instead
  // of joining d10's FULL positional span table (one row per token —
  // the thing that's too big to self-join at corpus scale), docs pair
  // on their O(n/w) winnowed fingerprint SETS. Winnowing's guarantee
  // makes this sound: any shared run of ≥ SpanN+WinW−1 words put at
  // least one common fingerprint in both docs, so long-verbatim-
  // overlap pairs cannot be missed, at 1/(w·density) the join volume.
  // The fingerprint hash is the join key; a hot boilerplate
  // fingerprint is a skewed bucket `Buckets.cap` bounds exactly like
  // d3/m5's chunks (pair volume ≤ cap²·buckets, linear in bucket
  // count). Overlap scored as shared / min(|fp_a|, |fp_b|) in integer
  // ppm (containment — the asymmetric-length-robust choice); pairs
  // need ≥ 2 shared fingerprints (one survives winnowing by a single
  // 11-word idiom; two starts looking like real reuse).
  /** The DfCache'd distinct (doc_id, fingerprint-hash) table — d15's
    * join input; Bench warms it so d15's steady-state probe cost is
    * attributed separately from the one-time winnowing pass. */
  def winnowFingerprints(spark: SparkSession, dir: String): DataFrame =
    graft.util.DfCache.cached(spark, dir, "winnow_fp") {
      graft.operators.text.TextOps.winnowedOf(docs(spark, dir))
        .select(col("doc_id"), expr("sel div 4194304").as("h"))
        .distinct()
    }

  // DfCache'd (the d4 convention): d16 feeds these pairs into the
  // min-label FIXPOINT — without the persist every propagation round
  // re-runs the whole fingerprint self-join (measured 18 s vs 6 s at
  // sf0.1 bench) — and d17/d21 read them again.
  def d15WinnowDup(spark: SparkSession, dir: String): DataFrame =
    graft.util.DfCache.cached(spark, dir, "winnow_pairs") {
      val fp = winnowFingerprints(spark, dir)
      val nfp = fp.groupBy(col("doc_id")).agg(count(lit(1)).as("n_fp"))
      val s = graft.util.Buckets.cap(fp, Seq("h"), 200)
      s.as("x").join(s.as("y"),
          col("x.h") === col("y.h") && col("x.doc_id") < col("y.doc_id"))
        .groupBy(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
        .agg(count(lit(1)).as("shared_fp"))
        .filter(col("shared_fp") >= 2)
        .join(nfp.withColumnRenamed("doc_id", "doc_a")
          .withColumnRenamed("n_fp", "n_a"), Seq("doc_a"))
        .join(nfp.withColumnRenamed("doc_id", "doc_b")
          .withColumnRenamed("n_fp", "n_b"), Seq("doc_b"))
        .select(col("doc_a"), col("doc_b"), col("shared_fp"),
          expr("1000000 * shared_fp div least(n_a, n_b)").as("containment_ppm"))
        .orderBy(col("doc_a"), col("doc_b"))
    }

  lazy val d15Sql: String =
    s"""WITH ${graft.operators.text.TextOps.winnowFpCtes},
       |hh AS (SELECT DISTINCT doc_id, sel // 4194304 AS h FROM fp),
       |nfp AS (SELECT doc_id, count(*) AS n_fp FROM hh GROUP BY 1),
       |ok AS (SELECT h FROM hh GROUP BY h HAVING count(*) <= 200),
       |s AS (SELECT hh.* FROM hh JOIN ok USING (h)),
       |pr AS (
       |  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS shared_fp
       |  FROM s x JOIN s y ON x.h = y.h AND x.doc_id < y.doc_id
       |  GROUP BY 1, 2 HAVING count(*) >= 2)
       |SELECT doc_a, doc_b, shared_fp,
       |  1000000 * shared_fp // least(a.n_fp, b.n_fp) AS containment_ppm
       |FROM pr JOIN nfp a ON pr.doc_a = a.doc_id
       |JOIN nfp b ON pr.doc_b = b.doc_id
       |ORDER BY doc_a, doc_b""".stripMargin

  // ---- d16: dup clusters over the winnowed-fingerprint pair graph ----
  // Closes the winnow family the way d6 closes the Jaccard family:
  // d15's containment-scored pairs become keep/drop decisions via the
  // same `pairClusters` (a new candidate family needs only edges).
  // Only pairs with containment ≥ 1/2 (≥ 500000 ppm — half of the
  // smaller doc's fingerprints shared) edge the graph, the d4-theta
  // analog for fingerprint space. Cluster id = min doc_id; keep-min.
  def d16WinnowClusters(spark: SparkSession, dir: String): DataFrame =
    pairClusters(d15WinnowDup(spark, dir).filter(col("containment_ppm") >= 500000))

  lazy val d16Sql: String =
    s"""WITH wp AS ($d15Sql),
       |e AS (SELECT doc_a AS a, doc_b AS b FROM wp
       |      WHERE containment_ppm >= 500000
       |      UNION SELECT doc_b, doc_a FROM wp
       |      WHERE containment_ppm >= 500000),
       |nodes AS (SELECT DISTINCT a AS n FROM e),
       |reach AS (
       |  WITH RECURSIVE r(a, b) AS (
       |    SELECT a, b FROM e
       |    UNION
       |    SELECT r.a, e.b FROM r JOIN e ON r.b = e.a)
       |  SELECT a, b FROM r)
       |SELECT n.n AS doc_id,
       |  least(n.n, min(r.b)) AS cluster_id,
       |  n.n = least(n.n, min(r.b)) AS is_kept
       |FROM nodes n JOIN reach r ON r.a = n.n
       |GROUP BY n.n ORDER BY doc_id""".stripMargin

  // ---- d17: exact directional containment over the winnow candidates ----
  // The quote detector Jaccard structurally misses: a short doc fully
  // quoted inside a long one has Jaccard ≈ |A|/|B| (arbitrarily low —
  // d4's threshold never fires) but containment |A∩B|/|A| ≈ 1. The
  // candidate side is d15's winnowed-fingerprint pairs — the RIGHT
  // generator for this gauge, because winnowing's guarantee is
  // per-shared-RUN (any ≥ SpanN+WinW−1-word verbatim overlap plants a
  // common fingerprint) and so is containment-recall-friendly, where
  // minhash bands select for symmetric similarity. Verification is
  // d4's merge-pass intersect on the cached sorted shingle arrays:
  // only |candidates| rows flow, no shingle explode. Both directions
  // emitted in exact integer ppm; is_quote flags max-side containment
  // ≥ 50% (the asymmetric-reuse verdict d6/d16 clustering would act
  // on).
  private val QuotePpm = 500000L

  def d17Containment(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.registerAll(spark)
    val sh = shingleFeatures(spark, dir)
    d15WinnowDup(spark, dir).select(col("doc_a"), col("doc_b"))
      .join(sh.as("a"), col("doc_a") === col("a.doc_id"))
      .join(sh.as("b"), col("doc_b") === col("b.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        expr("cast(graft_sorted_intersect_count(a.shingles, b.shingles) as bigint)")
          .as("inter"),
        size(col("a.shingles")).cast("long").as("na"),
        size(col("b.shingles")).cast("long").as("nb"))
      .select(col("doc_a"), col("doc_b"), col("inter"), col("na"), col("nb"),
        expr("1000000 * inter div na").as("cont_a_ppm"),
        expr("1000000 * inter div nb").as("cont_b_ppm"))
      .withColumn("is_quote",
        greatest(col("cont_a_ppm"), col("cont_b_ppm")) >= QuotePpm)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  lazy val d17Sql: String =
    s"""WITH ${graft.operators.text.TextOps.winnowFpCtes},
       |hh AS (SELECT DISTINCT doc_id, sel // 4194304 AS h FROM fp),
       |okw AS (SELECT h FROM hh GROUP BY h HAVING count(*) <= 200),
       |sw AS (SELECT hh.* FROM hh JOIN okw USING (h)),
       |pr AS (
       |  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM sw x JOIN sw y ON x.h = y.h AND x.doc_id < y.doc_id
       |  GROUP BY 1, 2 HAVING count(*) >= 2),
       |$shingleCtes,
       |shx AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
       |ns AS (SELECT doc_id, len(shingles) AS n FROM sh),
       |it AS (
       |  SELECT c.doc_a, c.doc_b, count(*) AS inter
       |  FROM pr c
       |  JOIN shx a ON a.doc_id = c.doc_a
       |  JOIN shx b ON b.doc_id = c.doc_b AND a.s = b.s
       |  GROUP BY 1, 2)
       |SELECT p.doc_a, p.doc_b,
       |  CAST(coalesce(i.inter, 0) AS BIGINT) AS inter,
       |  CAST(na.n AS BIGINT) AS na, CAST(nb.n AS BIGINT) AS nb,
       |  1000000 * CAST(coalesce(i.inter, 0) AS BIGINT) // na.n AS cont_a_ppm,
       |  1000000 * CAST(coalesce(i.inter, 0) AS BIGINT) // nb.n AS cont_b_ppm,
       |  greatest(1000000 * CAST(coalesce(i.inter, 0) AS BIGINT) // na.n,
       |           1000000 * CAST(coalesce(i.inter, 0) AS BIGINT) // nb.n)
       |    >= $QuotePpm AS is_quote
       |FROM pr p
       |LEFT JOIN it i ON p.doc_a = i.doc_a AND p.doc_b = i.doc_b
       |JOIN ns na ON p.doc_a = na.doc_id
       |JOIN ns nb ON p.doc_b = nb.doc_id
       |ORDER BY p.doc_a, p.doc_b""".stripMargin

  // ---- d18: edit-distance verification of LSH candidates ----
  // The third verification lens on d2's candidate pairs, after set
  // overlap (d4 Jaccard) and containment (d17): character-level edit
  // distance, the measure that catches small in-place mutations
  // (typo-level rewrites, template fills) which keep shingle overlap
  // high but matter for exact-ish dedup policies. Levenshtein is
  // O(len²) per pair, so it runs on a fixed-length prefix — the cost
  // per candidate is a constant (LevPrefix² char ops), and total work
  // stays linear in the capped candidate count regardless of document
  // length. Both engines implement the same unit-cost edit distance,
  // so the values are bit-identical. A pair is a dup when the edit
  // distance is at most 20% of the longer prefix (lev·5 <= len_max —
  // pure integer arithmetic, no ratio rounding to disagree on).
  private val LevPrefix = 160

  def d18LevDedup(spark: SparkSession, dir: String): DataFrame = {
    val pre = docs(spark, dir)
      .select(col("doc_id"), substring(col("text"), 1, LevPrefix).as("pre"))
    d2MinhashLsh(spark, dir)
      .join(pre.as("a"), col("doc_a") === col("a.doc_id"))
      .join(pre.as("b"), col("doc_b") === col("b.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        levenshtein(col("a.pre"), col("b.pre")).cast("long").as("lev"),
        greatest(length(col("a.pre")), length(col("b.pre")))
          .cast("long").as("len_max"))
      .withColumn("is_dup", col("lev") * 5 <= col("len_max"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  lazy val d18Sql: String =
    s"""WITH $lshCtes,
       |pre AS (SELECT doc_id, substr(text, 1, $LevPrefix) AS pre FROM documents)
       |SELECT c.doc_a, c.doc_b,
       |  CAST(levenshtein(a.pre, b.pre) AS BIGINT) AS lev,
       |  CAST(greatest(length(a.pre), length(b.pre)) AS BIGINT) AS len_max,
       |  CAST(levenshtein(a.pre, b.pre) AS BIGINT) * 5
       |    <= CAST(greatest(length(a.pre), length(b.pre)) AS BIGINT) AS is_dup
       |FROM cand c
       |JOIN pre a ON c.doc_a = a.doc_id
       |JOIN pre b ON c.doc_b = b.doc_id
       |ORDER BY c.doc_a, c.doc_b""".stripMargin

  // ---- d19: candidate-generator agreement audit ----
  // The two independent near-dup candidate families — d2's MinHash
  // band buckets (set-similarity lens) and d15's winnowed-fingerprint
  // runs (shared-substring lens) — are tuned separately (d12/d13 vs
  // d15/d17); this gauge measures how much they AGREE: pair-set
  // sizes, intersection, union, and set-Jaccard in exact ppm. Low
  // agreement is the signal that one family is finding dup structure
  // the other misses (run-level quoting vs token-bag similarity), i.e.
  // that a production dedup should keep BOTH generators. One full
  // outer join of the two (already capped) pair tables on the pair
  // key + a single global rollup — both inputs are candidate-scale,
  // never corpus-scale.
  def d19CandidateOverlap(spark: SparkSession, dir: String): DataFrame = {
    val lsh = d2MinhashLsh(spark, dir)
      .select(col("doc_a"), col("doc_b")).withColumn("in_lsh", lit(1L))
    val win = d15WinnowDup(spark, dir)
      .select(col("doc_a"), col("doc_b")).withColumn("in_win", lit(1L))
    lsh.join(win, Seq("doc_a", "doc_b"), "full_outer")
      .agg(
        sum(coalesce(col("in_lsh"), lit(0L))).as("n_lsh"),
        sum(coalesce(col("in_win"), lit(0L))).as("n_winnow"),
        sum(coalesce(col("in_lsh"), lit(0L)) * coalesce(col("in_win"), lit(0L)))
          .as("n_common"),
        count(lit(1)).as("n_union"))
      .withColumn("agreement_ppm", expr("n_common * 1000000 div n_union"))
  }

  lazy val d19Sql: String =
    s"""WITH $lshCtes,
       |${graft.operators.text.TextOps.winnowFpCtes},
       |whh AS (SELECT DISTINCT doc_id, sel // 4194304 AS h FROM fp),
       |wok AS (SELECT h FROM whh GROUP BY h HAVING count(*) <= 200),
       |ws AS (SELECT whh.* FROM whh JOIN wok USING (h)),
       |wpr AS (
       |  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM ws x JOIN ws y ON x.h = y.h AND x.doc_id < y.doc_id
       |  GROUP BY 1, 2 HAVING count(*) >= 2),
       |u AS (
       |  SELECT coalesce(l.doc_a, w.doc_a) AS doc_a,
       |    CASE WHEN l.doc_a IS NOT NULL THEN 1 ELSE 0 END AS in_lsh,
       |    CASE WHEN w.doc_a IS NOT NULL THEN 1 ELSE 0 END AS in_win
       |  FROM cand l FULL OUTER JOIN wpr w
       |    ON l.doc_a = w.doc_a AND l.doc_b = w.doc_b)
       |SELECT CAST(sum(in_lsh) AS BIGINT) AS n_lsh,
       |  CAST(sum(in_win) AS BIGINT) AS n_winnow,
       |  CAST(sum(in_lsh * in_win) AS BIGINT) AS n_common,
       |  count(*) AS n_union,
       |  CAST(sum(in_lsh * in_win) AS BIGINT) * 1000000 // count(*)
       |    AS agreement_ppm
       |FROM u""".stripMargin

  // ---- d20: dup-cluster size distribution (dedup yield report) ----
  // The number a dedup run is judged by: how big are the duplicate
  // clusters, and how much does keep-one-per-cluster shrink the
  // corpus? d6's verified clusters give the multi-doc clusters;
  // unclustered documents are size-1 singletons folded into the same
  // histogram, so Σ(sz · n_clusters) = |corpus| and the removal rate
  // is Σ((sz − 1) · n_clusters). One groupBy over the cached cluster
  // table + one anti-join count — candidate-scale work only.
  def d20ClusterSizes(spark: SparkSession, dir: String): DataFrame = {
    val cl = d6DupClusters(spark, dir).select(col("doc_id"), col("cluster_id"))
    val hist = cl.groupBy(col("cluster_id")).agg(count(lit(1)).as("sz"))
      .groupBy(col("sz")).agg(count(lit(1)).as("n_clusters"))
    val singles = docs(spark, dir).select(col("doc_id"))
      .join(cl, Seq("doc_id"), "left_anti")
      .agg(count(lit(1)).as("n_clusters"))
      .select(lit(1L).as("sz"), col("n_clusters"))
    hist.union(singles)
      .groupBy(col("sz")).agg(sum(col("n_clusters")).as("n_clusters"))
      .withColumn("n_docs", col("sz") * col("n_clusters"))
      .withColumn("n_removed", (col("sz") - 1) * col("n_clusters"))
      .orderBy(col("sz"))
  }

  lazy val d20Sql: String =
    s"""WITH cl AS ($d6Sql),
       |h AS (SELECT sz, count(*) AS n_clusters FROM (
       |  SELECT cluster_id, count(*) AS sz FROM cl GROUP BY cluster_id)
       |  GROUP BY sz),
       |s AS (SELECT CAST(1 AS BIGINT) AS sz, count(*) AS n_clusters
       |      FROM documents d WHERE NOT EXISTS (
       |        SELECT 1 FROM cl WHERE cl.doc_id = d.doc_id)),
       |u AS (SELECT * FROM h UNION ALL SELECT * FROM s)
       |SELECT sz, CAST(sum(n_clusters) AS BIGINT) AS n_clusters,
       |  sz * CAST(sum(n_clusters) AS BIGINT) AS n_docs,
       |  (sz - 1) * CAST(sum(n_clusters) AS BIGINT) AS n_removed
       |FROM u GROUP BY sz ORDER BY sz""".stripMargin

  // ---- d21: Jaccard-threshold sweep (the dedup tuning curve) ----
  // s34 gives the ANN family its recall curve; this is the dedup
  // analog: how many verified pairs (and how many documents) survive
  // at each candidate θ — the table read before committing a dedup
  // threshold, where one number (pairs at θ=0.35) hides the cliff the
  // sweep exposes. One pass over the cached d4 pair table × a
  // broadcast 3-row θ table; thresholds compare in the same IEEE
  // jaccard·1e6 ≥ θ_ppm form on both engines.
  private val SweepThetasPpm = Seq(200000L, 350000L, 500000L)

  def d21ThresholdSweep(spark: SparkSession, dir: String): DataFrame = {
    val pairs = d4NgramJaccard(spark, dir)
    val ths = SweepThetasPpm
      .map(v => spark.range(1).select(lit(v).as("theta_ppm")))
      .reduce(_.union(_))
    val tagged = pairs.crossJoin(broadcast(ths))
      .filter(col("jaccard") * 1000000.0 >= col("theta_ppm").cast("double"))
    val np = tagged.groupBy(col("theta_ppm")).agg(count(lit(1)).as("n_pairs"))
    val nd = tagged
      .select(col("theta_ppm"), explode(array(col("doc_a"), col("doc_b"))).as("d"))
      .distinct()
      .groupBy(col("theta_ppm")).agg(count(lit(1)).as("n_docs"))
    np.join(nd, Seq("theta_ppm")).orderBy(col("theta_ppm"))
  }

  lazy val d21Sql: String = {
    val vals = SweepThetasPpm.mkString("(", "), (", ")")
    s"""WITH jp AS ($d4Sql),
       |th(theta_ppm) AS (VALUES $vals),
       |tg AS (SELECT theta_ppm, doc_a, doc_b FROM jp, th
       |       WHERE jaccard * 1000000 >= theta_ppm),
       |np AS (SELECT theta_ppm, count(*) AS n_pairs FROM tg GROUP BY 1),
       |nd AS (SELECT theta_ppm, count(*) AS n_docs FROM (
       |  SELECT DISTINCT theta_ppm, d FROM (
       |    SELECT theta_ppm, unnest([doc_a, doc_b]) AS d FROM tg)) GROUP BY 1)
       |SELECT CAST(np.theta_ppm AS BIGINT) AS theta_ppm, np.n_pairs, nd.n_docs
       |FROM np JOIN nd USING (theta_ppm) ORDER BY theta_ppm""".stripMargin
  }

  // ---- d23: LSH band-tuning matrix (the (b, r) decision table) ----
  // The table a production dedup reads before fixing its band shape:
  // for each way of cutting the SAME 64 minhashes into (b bands × r
  // rows), the full-corpus candidate volume (the cost), the measured
  // recall against true Jaccard ≥ 0.5 pairs on a fixed probe sample
  // (the d8 posture — broadcast probes × corpus, linear, never
  // all-pairs), and the ANALYTIC S-curve catch probability at τ —
  // computed in EXACT integers driver-side: τ = 1/2 makes
  // 1−(1−τ^r)^b = 1 − (2^r−1)^b / 2^64, a BigInt ratio in ppm (no
  // pow(), nothing for two engines' libm to disagree on). Theory says
  // narrower bands catch more (r=2: 99.99%, r=8: 3.1% at τ exactly)
  // at quadratically more candidate cost; this measures where THIS
  // corpus actually sits between those poles. Measured verdict at the
  // gate: recall 1.0 in EVERY config against an analytic 3%–99.99%
  // spread — the corpus's near-dup mass sits at J = 1 (exact copies),
  // and identical shingle sets give identical minhashes, hence
  // identical keys under any (b, r) cut. The table is exactly the
  // evidence that lets a pipeline pick the CHEAPEST config (8×8: 25
  // candidates vs 177) when its dups are exact — and the s_curve
  // column is what stops that choice the day genuinely-partial
  // overlap (J ≈ 0.5) starts appearing.
  // 100 probes, not 25: this corpus is BIMODAL (exact copies or
  // near-zero Jaccard — measured: J ≥ 0.05 adds just one pair over
  // J ≥ 0.5 on a 25-probe sample), so truth density comes from probe
  // count, not from loosening τ. Still linear: probes × corpus.
  private val TuneProbes = 100
  private val TuneConfigs = Seq((8, 8), (16, 4), (32, 2)) // (bands, rows)

  private def sCurvePpm(b: Int, r: Int): Long = {
    val denom = BigInt(2).pow(r * b)
    val miss = (BigInt(2).pow(r) - 1).pow(b)
    ((denom - miss) * 1000000 / denom).toLong
  }

  /** 64-minhash vectors per doc — DfCache'd (d23 cuts them three
    * ways; d2's band table derives the same folds inline). */
  private def minhashTable(spark: SparkSession, dir: String): DataFrame =
    graft.util.DfCache.cached(spark, dir, "dedup_mh64") {
      shingleFeatures(spark, dir).withColumn("mh", expr(mhExpr))
        .select(col("doc_id"), col("mh"))
    }

  def d23BandTuning(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.registerAll(spark)
    val sh = shingleFeatures(spark, dir)
    // probe-sample ground truth: Jaccard ≥ 1/2 ⟺ 2·|∩| ≥ |∪|
    val truth = broadcast(sh.filter(col("doc_id") < TuneProbes).as("a"))
      .join(sh.as("b"), col("a.doc_id") =!= col("b.doc_id"))
      .withColumn("inter",
        expr("graft_sorted_intersect_count(a.shingles, b.shingles)"))
      .withColumn("un",
        size(col("a.shingles")) + size(col("b.shingles")) - col("inter"))
      .filter(col("inter") * 2 >= col("un"))
      .select(col("a.doc_id").as("pa"), col("b.doc_id").as("pb"))
      .localCheckpoint(true)
    val mh = minhashTable(spark, dir)
    val rows = TuneConfigs.map { case (b, r) =>
      val keys =
        s"""transform(sequence(0, ${b - 1}), bb ->
           |  aggregate(sequence(1, $r), cast(17 as bigint),
           |    (acc, j) -> (acc*31 + element_at(mh, bb*$r + j)) % 2147483647))"""
          .stripMargin
      val bandRows = mh.select(col("doc_id"),
        posexplode(expr(keys)).as(Seq("band", "bkey")))
      val capped = graft.util.Buckets.cap(bandRows, Seq("band", "bkey"), MaxBucket)
      val cand = capped.as("x").join(capped.as("y"),
          col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey")
            && col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
        .distinct()
      val nCand = cand.agg(count(lit(1)).as("n_candidates"))
      val sym = cand.select(col("doc_a").as("pa"), col("doc_b").as("pb"))
        .union(cand.select(col("doc_b").as("pa"), col("doc_a").as("pb")))
      val caught = truth.join(sym, Seq("pa", "pb"), "left_semi")
        .agg(count(lit(1)).as("n_caught"))
      nCand.crossJoin(caught)
        .crossJoin(truth.agg(count(lit(1)).as("n_truth")))
        .select(lit(b).cast("int").as("bands"), lit(r).cast("int").as("rows_per_band"),
          col("n_candidates"), col("n_truth"), col("n_caught"),
          expr("CASE WHEN n_truth > 0 THEN n_caught * 1000000 div n_truth END")
            .as("recall_ppm"),
          lit(sCurvePpm(b, r)).as("s_curve_ppm"))
    }
    rows.reduce(_.union(_)).orderBy(col("rows_per_band"))
  }

  lazy val d23Sql: String = {
    def cfg(b: Int, r: Int): String = {
      val tag = s"${b}_$r"
      s"""bd$tag AS (
         |  SELECT doc_id, bb AS band,
         |    list_reduce(list_prepend(CAST(17 AS BIGINT),
         |      [ mh[bb*$r + j] for j in generate_series(1, $r) ]),
         |      (a, x) -> (a*31 + x) % 2147483647) AS bkey
         |  FROM mh, generate_series(0, ${b - 1}) g(bb)),
         |okb$tag AS (SELECT band, bkey FROM bd$tag
         |  GROUP BY band, bkey HAVING count(*) <= $MaxBucket),
         |cp$tag AS (SELECT d.doc_id, d.band, d.bkey
         |  FROM bd$tag d JOIN okb$tag USING (band, bkey)),
         |cd$tag AS MATERIALIZED (
         |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
         |  FROM cp$tag x JOIN cp$tag y
         |    ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id),
         |row$tag AS (
         |  SELECT $b AS bands, $r AS rows_per_band,
         |    (SELECT count(*) FROM cd$tag) AS n_candidates,
         |    (SELECT count(*) FROM truth) AS n_truth,
         |    (SELECT count(*) FROM truth t
         |     WHERE EXISTS (SELECT 1 FROM cd$tag c
         |       WHERE (c.doc_a = t.pa AND c.doc_b = t.pb)
         |          OR (c.doc_b = t.pa AND c.doc_a = t.pb))) AS n_caught,
         |    ${sCurvePpm(b, r)} AS s_curve_ppm)"""
        .stripMargin
    }
    val cfgs = TuneConfigs.map { case (b, r) => cfg(b, r) }.mkString(",\n")
    val sel = TuneConfigs.map { case (b, r) =>
      s"SELECT * FROM row${b}_$r" }.mkString("\nUNION ALL ")
    s"""WITH $shingleCtes,
       |mh AS MATERIALIZED (
       |  SELECT doc_id,
       |    [ list_min([ ((2*CAST(p AS BIGINT)+1)*s + p*p+1) % 2147483647
       |                 for s in shingles ])
       |      for p in generate_series(0,63) ] AS mh
       |  FROM sh),
       |truth AS MATERIALIZED (
       |  SELECT a.doc_id AS pa, b.doc_id AS pb
       |  FROM sh a JOIN sh b ON a.doc_id < $TuneProbes AND a.doc_id != b.doc_id
       |  WHERE 2 * len(list_intersect(a.shingles, b.shingles))
       |        >= len(a.shingles) + len(b.shingles)
       |           - len(list_intersect(a.shingles, b.shingles))),
       |$cfgs
       |SELECT CAST(bands AS INTEGER) AS bands,
       |  CAST(rows_per_band AS INTEGER) AS rows_per_band,
       |  CAST(n_candidates AS BIGINT) AS n_candidates,
       |  CAST(n_truth AS BIGINT) AS n_truth,
       |  CAST(n_caught AS BIGINT) AS n_caught,
       |  CASE WHEN n_truth > 0 THEN n_caught * 1000000 // n_truth END
       |    AS recall_ppm,
       |  CAST(s_curve_ppm AS BIGINT) AS s_curve_ppm
       |FROM ($sel) ORDER BY rows_per_band""".stripMargin
  }

  // ---- d22: representative weights (dedup as reweighting) ----
  // The alternative to DROPPING duplicates that modern data recipes
  // prefer: keep one representative per near-dup cluster and carry
  // the cluster SIZE as a sampling weight (so dedup doesn't silently
  // shift the corpus distribution — a document seen 40× can count 40×
  // or log(40)×, but that's the trainer's choice; the pipeline's job
  // is to surface the number). Composes d6's fixpoint clusters with
  // the corpus frame: representatives = cluster minima, singletons
  // keep weight 1 via the left anti pattern. Total weight is exactly
  // |documents| — mass is conserved, never dropped (spec-pinned).
  def d22RepWeights(spark: SparkSession, dir: String): DataFrame = {
    val cl = d6DupClusters(spark, dir)
    val w = cl.groupBy(col("cluster_id")).agg(count(lit(1)).as("cw"))
    graft.sources.Tables.load(spark, dir, "documents").select(col("doc_id"))
      .join(cl.select(col("doc_id"), col("is_kept")), Seq("doc_id"), "left_outer")
      .filter(col("is_kept").isNull || col("is_kept"))
      .join(w.select(col("cluster_id").as("doc_id"), col("cw")),
        Seq("doc_id"), "left_outer")
      .select(col("doc_id"), coalesce(col("cw"), lit(1L)).as("weight"))
      .orderBy(col("doc_id"))
  }

  lazy val d22Sql: String =
    s"""WITH cl AS ($d6Sql),
       |w AS (SELECT cluster_id, count(*) AS cw FROM cl GROUP BY 1)
       |SELECT d.doc_id AS doc_id, coalesce(w.cw, 1) AS weight
       |FROM documents d
       |LEFT JOIN cl ON d.doc_id = cl.doc_id
       |LEFT JOIN w ON w.cluster_id = d.doc_id
       |WHERE cl.doc_id IS NULL OR cl.is_kept
       |ORDER BY d.doc_id""".stripMargin

  // ---- d25: candidate-similarity histogram (threshold placement) ----
  // d8/d12 price the bands' recall and precision AGAINST a fixed θ;
  // this shows the DISTRIBUTION the θ cuts: all LSH candidate pairs
  // (including sub-threshold — the rejected mass is the point),
  // binned by exact Jaccard in integer tenths. A corpus whose
  // candidate mass piles just under θ says "tune θ or add bands"; a
  // bimodal plot says the threshold is safe anywhere in the gap. One
  // re-score of the (capped, bounded) candidate set with the native
  // merge-pass intersect, bins exact: bin = 10·inter div union — no
  // float boundary ambiguity cross-engine.
  def d25SimHistogram(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.registerAll(spark)
    val sh = shingleFeatures(spark, dir)
    d2MinhashLsh(spark, dir)
      .join(sh.select(col("doc_id").as("doc_a"), col("shingles").as("sa")),
        Seq("doc_a"))
      .join(sh.select(col("doc_id").as("doc_b"), col("shingles").as("sb")),
        Seq("doc_b"))
      .withColumn("inter", expr("graft_sorted_intersect_count(sa, sb)"))
      // zero-overlap collisions (same band hash, disjoint shingles)
      // are excluded on BOTH engines — the oracle's intersection CTE
      // cannot see them at all (inner join on shared shingles)
      .filter(col("inter") >= 1L)
      .withColumn("uni", size(col("sa")) + size(col("sb")) - col("inter"))
      .select(expr("inter * 10 div uni").as("sim_bin"))
      .groupBy(col("sim_bin")).agg(count(lit(1)).as("n_pairs"))
      .orderBy(col("sim_bin"))
  }

  lazy val d25Sql: String =
    s"""WITH $lshCtes,
       |shx AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
       |ns AS (SELECT doc_id, len(shingles) AS n FROM sh),
       |inter AS (
       |  SELECT c.doc_a, c.doc_b, count(*) AS inter
       |  FROM cand c
       |  JOIN shx a ON a.doc_id = c.doc_a
       |  JOIN shx b ON b.doc_id = c.doc_b AND a.s = b.s
       |  GROUP BY c.doc_a, c.doc_b)
       |SELECT CAST(i.inter * 10 // (na.n + nb.n - i.inter) AS BIGINT) AS sim_bin,
       |  count(*) AS n_pairs
       |FROM inter i
       |JOIN ns na ON i.doc_a = na.doc_id
       |JOIN ns nb ON i.doc_b = nb.doc_id
       |GROUP BY 1 ORDER BY sim_bin""".stripMargin

  // ---- d24: Bloom prefilter for cross-shard exact dedup ----
  // The cheap gate BEFORE d9's full index probe: the corpus's doc
  // FINGERPRINTS (t4's base-1000003 fold — one long per doc) go into
  // a Bloom filter (q37's machinery, m = D24BloomBits here; size m at
  // ~10 bits/key in production); an arriving shard probes the bits
  // and only bloom-passing docs proceed to expensive verification.
  // Gated output: the confusion summary — shard size, bloom passes,
  // true fingerprint dups, false positives, and the measured FP rate
  // in ppm against the clean population. No false NEGATIVES by
  // construction (BloomSpec's law), so the prefilter never drops a
  // real dup — the property that makes it safe to deploy in front of
  // d9. At 100 TB: the bit array is corpus-keyed but broadcastable
  // (m/8 bytes); fingerprints ride the shard scan; nothing shuffles.
  private val D24BloomBits = 65536

  /** t4's doc fingerprint as a plain column expression (bigint). */
  private val docFpExpr =
    """aggregate(
      |  transform(split(text, ' '), w -> length(w)*31 + ascii(substring(w,1,1))),
      |  cast(0 as bigint),
      |  (acc, x) -> (acc*1000003 + x) % 2147483647)""".stripMargin

  def d24BloomPrefilter(spark: SparkSession, dir: String): DataFrame = {
    val fp = docs(spark, dir).select(col("doc_id"), expr(docFpExpr).as("k"))
    val corpus = fp.filter(!isNewDoc).select(col("k")).distinct()
    val shard = fp.filter(isNewDoc).select(col("k"))
    graft.operators.Relational.bloomVerdictOf(corpus, shard, D24BloomBits)
      .agg(count(lit(1)).as("n_shard"),
        sum(when(col("pass"), 1L).otherwise(0L)).as("n_pass_bloom"),
        sum(when(col("is_true"), 1L).otherwise(0L)).as("n_true_dup"),
        sum(when(col("pass") && col("is_true").isNull, 1L).otherwise(0L))
          .as("n_false_pos"))
      .withColumn("fp_ppm",
        expr("CASE WHEN n_shard > n_true_dup" +
          " THEN n_false_pos * 1000000 div (n_shard - n_true_dup) END"))
  }

  lazy val d24Sql: String = {
    def fpSel(pred: String) =
      s"""SELECT list_reduce(
         |    list_prepend(CAST(0 AS BIGINT),
         |      list_transform(string_split(text,' '),
         |        w -> CAST(length(w)*31 + ascii(substr(w,1,1)) AS BIGINT))),
         |    (acc, x) -> (acc*1000003 + x) % 2147483647) AS k
         |  FROM documents
         |  WHERE (((doc_id % 2147483647) * 2654435761) % 2147483647 % 100 >= 90)
         |        = $pred""".stripMargin
    def hashCte(src: String, out: String) =
      s"""$out AS (
         |  SELECT k, h % $D24BloomBits AS p1,
         |    (h // $D24BloomBits) % $D24BloomBits AS p2 FROM (
         |    SELECT k, xor(x2 // 65536, x2) AS h FROM (
         |      SELECT k, (xor(x1 // 65536, x1) * 73244475) % 4294967296 AS x2 FROM (
         |        SELECT k, (xor(x0 // 65536, x0) * 73244475) % 4294967296 AS x1 FROM (
         |          SELECT k, (k + 1469598103) % 4294967296 AS x0 FROM $src)))))"""
        .stripMargin
    s"""WITH corpus AS (SELECT DISTINCT k FROM (${fpSel("false")})),
       |shard AS (${fpSel("true")}),
       |${hashCte("corpus", "kp")},
       |${hashCte("shard", "sp")},
       |bloom AS (
       |  SELECT pos // 32 AS word,
       |    bit_or(CAST(1 AS BIGINT) << CAST(pos % 32 AS INTEGER)) AS bits
       |  FROM (SELECT unnest([p1, p2]) AS pos FROM kp) GROUP BY 1),
       |verdict AS (
       |  SELECT sp.k,
       |    (coalesce(b1.bits, 0) & (CAST(1 AS BIGINT) << CAST(p1 % 32 AS INTEGER))) != 0
       |      AND
       |    (coalesce(b2.bits, 0) & (CAST(1 AS BIGINT) << CAST(p2 % 32 AS INTEGER))) != 0
       |      AS pass,
       |    t.is_true
       |  FROM sp
       |  LEFT JOIN bloom b1 ON p1 // 32 = b1.word
       |  LEFT JOIN bloom b2 ON p2 // 32 = b2.word
       |  LEFT JOIN (SELECT k, true AS is_true FROM corpus) t ON sp.k = t.k)
       |SELECT count(*) AS n_shard,
       |  CAST(sum(CASE WHEN pass THEN 1 ELSE 0 END) AS BIGINT) AS n_pass_bloom,
       |  CAST(sum(CASE WHEN is_true THEN 1 ELSE 0 END) AS BIGINT) AS n_true_dup,
       |  CAST(sum(CASE WHEN pass AND is_true IS NULL THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_false_pos,
       |  CASE WHEN count(*) > CAST(sum(CASE WHEN is_true THEN 1 ELSE 0 END) AS BIGINT)
       |    THEN CAST(sum(CASE WHEN pass AND is_true IS NULL THEN 1 ELSE 0 END) AS BIGINT)
       |      * 1000000
       |      // (count(*) - CAST(sum(CASE WHEN is_true THEN 1 ELSE 0 END) AS BIGINT))
       |  END AS fp_ppm
       |FROM verdict""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "d25_sim_histogram" -> (d25SimHistogram _),
    "d26_idf_jaccard" -> (d26IdfJaccard _),
    "d27_keeper_policies" -> (d27KeeperPolicies _),
    "d28_prefix_dup" -> (d28PrefixDup _),
    "d30_bucket_stats" -> (d30BucketStats _),
    "d31_cluster_agreement" -> (d31ClusterAgreement _),
    "d32_sim_calibration" -> (d32SimCalibration _),
    "d29_dup_rate_by_length" -> (d29DupRateByLength _),
    "d24_bloom_prefilter" -> (d24BloomPrefilter _),
    "d23_band_tuning" -> (d23BandTuning _),
    "d22_rep_weights" -> (d22RepWeights _),
    "d21_threshold_sweep" -> (d21ThresholdSweep _),
    "d20_cluster_sizes" -> (d20ClusterSizes _),
    "d19_candidate_overlap" -> (d19CandidateOverlap _),
    "d18_lev_dedup" -> (d18LevDedup _),
    "d17_containment" -> (d17Containment _),
    "d16_winnow_clusters" -> (d16WinnowClusters _),
    "d15_winnow_dup" -> (d15WinnowDup _),
    "d14_cross_source_dup" -> (d14CrossSourceDup _),
    "d13_minhash_estimate" -> (d13MinhashEstimate _),
    "d12_dedup_precision" -> (d12DedupPrecision _),
    "d11_semdedup" -> (d11SemDedup _),
    "d10_span_dedup" -> (d10SpanDedup _),
    "d7_contamination" -> (d7Contamination _),
    "d1_exact_dedup" -> (d1ExactDedup _),
    "d2_minhash_lsh" -> (d2MinhashLsh _),
    "d3_simhash" -> (d3Simhash _),
    "d4_ngram_jaccard" -> (d4NgramJaccard _),
    "d5_embedding_dup" -> (d5EmbeddingDup _),
    "d6_dup_clusters" -> (d6DupClusters _),
    "d33_dup_source_mix" -> (d33DupSourceMix _),
    "d8_dedup_recall" -> (d8DedupRecall _),
    "d9_incremental_dedup" -> (d9IncrementalDedup _))

  val oracles: Map[String, String] = Map(
    "d25_sim_histogram" -> d25Sql,
    "d26_idf_jaccard" -> d26Sql,
    "d27_keeper_policies" -> d27Sql,
    "d28_prefix_dup" -> d28Sql,
    "d29_dup_rate_by_length" -> d29Sql,
    "d30_bucket_stats" -> d30Sql,
    "d31_cluster_agreement" -> d31Sql,
    "d32_sim_calibration" -> d32Sql,
    "d24_bloom_prefilter" -> d24Sql,
    "d23_band_tuning" -> d23Sql,
    "d22_rep_weights" -> d22Sql,
    "d21_threshold_sweep" -> d21Sql,
    "d20_cluster_sizes" -> d20Sql,
    "d19_candidate_overlap" -> d19Sql,
    "d18_lev_dedup" -> d18Sql,
    "d17_containment" -> d17Sql,
    "d16_winnow_clusters" -> d16Sql,
    "d15_winnow_dup" -> d15Sql,
    "d14_cross_source_dup" -> d14Sql,
    "d13_minhash_estimate" -> d13Sql,
    "d12_dedup_precision" -> d12Sql,
    "d11_semdedup" -> d11Sql,
    "d10_span_dedup" -> d10Sql,
    "d7_contamination" -> d7Sql,
    "d1_exact_dedup" -> d1Sql,
    "d2_minhash_lsh" -> d2Sql,
    "d3_simhash" -> d3Sql,
    "d4_ngram_jaccard" -> d4Sql,
    "d5_embedding_dup" -> d5Sql,
    "d6_dup_clusters" -> d6Sql,
    "d33_dup_source_mix" -> d33Sql,
    "d8_dedup_recall" -> d8Sql,
    "d9_incremental_dedup" -> d9Sql)
}
