package graft

/** DuckDB twins of every SparkEntry query — the oracle side of the
  * driver's correctness gate (see Verify).
  *
  * Contract: each SQL string, run by DuckDB over the same inputs the
  * Spark builder reads, must produce the same multiset of rows with the
  * same column names and (pandas-compatible) types. Conventions:
  *  - counts are BIGINT in both engines (Spark count → long);
  *  - Spark row_number (int) is cast to long wherever it is exposed;
  *  - double aggregates are rounded identically on both sides; both
  *    engines round doubles via shortest-decimal + HALF_UP, verified;
  *  - every hash is md5-derived ([[graft.functions.EngineNeutral]]) so
  *    signatures agree bit-for-bit;
  *  - the TPC-H-ish tables are referenced by bare name (the driver
  *    registers them over the sf dir); documents/embeddings are read
  *    from the t2 gate's sf0.01 path explicitly; the IMDB staging
  *    tables are read from the reference CSVs with explicit schemas
  *    mirroring graft.imdb.Schemas.
  */
object OracleSql {

  /** Twins with the documents/embeddings/layout paths derived from
    * `sfDir` — Verify dumps THIS for the sf dir it is actually run at,
    * so the oracle never silently reads another scale's data. */
  def forDir(sfDir: String): Map[String, String] = new OracleSqlGen(sfDir).all

  /** The t2 correctness-gate default (sf0.01). */
  val all: Map[String, String] = forDir("/root/testdata/sf0.01")
}

private[graft] final class OracleSqlGen(sfDir: String) {

  // ---- shared fragments -------------------------------------------------

  /** 60-bit md5-derived hash — twin of EngineNeutral.hash60. */
  private def h60(e: String): String =
    s"CAST(concat('0x', substr(md5($e),1,15)) AS BIGINT)"

  /** Whitespace tokens — twin of EngineNeutral.wsTokens. */
  private def toks(e: String): String =
    s"CASE WHEN len(trim($e))=0 THEN CAST([] AS VARCHAR[]) ELSE string_split_regex(trim($e),'\\s+') END"

  /** Distinct tokens — twin of EngineNeutral.wordSet. */
  private def wordSet(e: String): String = s"list_distinct(${toks(e)})"

  /** Exact Jaccard — twin of EngineNeutral.jaccard / SortedJaccardExpr.
    * Zero-union guard: Spark's kernel returns 0.0 for two empty sets, but
    * a bare 0/0 here would be NaN — which DuckDB orders ABOVE every
    * number, so an empty-empty pair would pass a `>= t` filter in the
    * oracle while Spark drops it. Mirror the 0.0. */
  private def jac(a: String, b: String): String =
    s"(CASE WHEN len(list_distinct(list_concat($a,$b))) = 0 THEN 0.0 " +
      s"ELSE len(list_intersect($a,$b))::DOUBLE / len(list_distinct(list_concat($a,$b)))::DOUBLE END)"

  /** Sequential-fold cosine — twin of VectorOps.cosine (zip_with+aggregate). */
  private def cosSql(a: String, b: String): String = {
    def dot(x: String, y: String) =
      s"list_sum(list_transform(range(64), i -> ($x)[i+1]*($y)[i+1]))"
    s"${dot(a, b)}/(sqrt(${dot(a, a)})*sqrt(${dot(b, b)}))"
  }

  /** SRP projection for global bit `bit` — twin of the fused SrpBandExpr
    * kernel: the hyperplane is the SAME driver-side precomputed constant
    * array (graft.functions.SrpPlanes — shortest-round-trip double
    * literals, so DuckDB parses back the identical IEEE values) instead
    * of per-row hashing; the Spark side hashes nothing per row either. */
  private def srpProj(v: String, bit: Int): String = {
    val plane = graft.functions.SrpPlanes.plane(bit)
      .map(_.toString).mkString("[", ",", "]")
    s"list_sum(list_transform(range(64), i -> ($v)[i+1] * " +
      s"(CAST($plane AS DOUBLE[]))[i+1]))"
  }

  /** Packed band value over bits [offset, offset+n) — twin of srpSignatureSlice. */
  private def srpBand(v: String, offset: Int, n: Int): String =
    (0 until n).map { lb =>
      s"(CASE WHEN ${srpProj(v, offset + lb)} >= 0 THEN ${1L << lb} ELSE 0 END)"
    }.mkString("(", " + ", ")")

  /** NN-descent CTE chain — twin of Similarity.knnDescentFrom(k, 3, 16,
    * 5); assumes an `e(vec_id, v)` CTE in scope, the final graph CTE is
    * g3. Shared by the sim_knn_descent twin (k=5) and the descent-graph
    * ANN twin (k=8) so the two cannot drift. */
  private def knnDescentChain(k: Int, sq8: Boolean = false): String = {
    // the frame scoring joins read: raw vectors, or (sq8 variant) the
    // SQ8-decoded grid points — the oracle needs no code column, the
    // decoded vector is a pure function of v and the grid
    val sv = if (sq8) "kdec" else "e"
    val gridCtes =
      s"""ksp AS (SELECT vec_id, g.i, v[g.i+1] AS comp
         |  FROM e CROSS JOIN (SELECT unnest(range(64)) AS i) g),
         |ksst AS (SELECT i, min(comp) AS mn,
         |  (max(comp) - min(comp)) / CAST(255.0 AS DOUBLE) AS sc
         |  FROM ksp GROUP BY i),
         |kstl AS (SELECT list(mn ORDER BY i) AS mnl, list(sc ORDER BY i) AS scl
         |  FROM ksst),
         |kdec AS MATERIALIZED (SELECT vec_id, list_transform(range(64), i ->
         |    CASE WHEN scl[i+1] = 0 THEN mnl[i+1]
         |         ELSE mnl[i+1] + least(CAST(255.0 AS DOUBLE),
         |           greatest(CAST(0.0 AS DOUBLE),
         |             floor((v[i+1] - mnl[i+1]) / scl[i+1] + CAST(0.5 AS DOUBLE))))
         |           * scl[i+1] END) AS v
         |  FROM e CROSS JOIN kstl),
         |""".stripMargin
    def topk(src: String) =
      s"""SELECT src_id, nbr_id, cos_sim FROM (
         |  SELECT *, row_number() OVER (PARTITION BY src_id
         |    ORDER BY cos_sim DESC, nbr_id ASC) AS rn FROM $src)
         |WHERE rn <= $k""".stripMargin
    def iterCtes(gIn: String, i: Int) =
      s"""rev$i AS (SELECT nbr_id AS va, src_id AS ua FROM (
         |  SELECT *, row_number() OVER (PARTITION BY nbr_id
         |    ORDER BY cos_sim DESC, src_id ASC) AS rn FROM $gIn)
         |  WHERE rn <= 5),
         |sym$i AS (SELECT DISTINCT va, ua FROM (
         |  SELECT src_id AS va, nbr_id AS ua FROM $gIn
         |  UNION ALL SELECT va, ua FROM rev$i)),
         |cand$i AS (SELECT DISTINCT va AS src_id, ua AS nbr_id FROM (
         |  SELECT va, ua FROM sym$i
         |  UNION ALL
         |  SELECT a.va, b.ua FROM sym$i a JOIN sym$i b ON a.ua = b.va
         |  WHERE a.va <> b.ua)),
         |s$i AS (SELECT c.src_id, c.nbr_id,
         |  round(${cosSql("ev.v", "ew.v")}, 4) AS cos_sim
         |  FROM cand$i c JOIN $sv ev ON ev.vec_id = c.src_id
         |  JOIN $sv ew ON ew.vec_id = c.nbr_id),
         |g$i AS (${topk(s"s$i")})""".stripMargin
    s"""${if (sq8) gridCtes else ""}nbk AS (SELECT GREATEST(16, CAST(ceil(count(*) / 128.0) AS BIGINT)) AS nb
       |  FROM e),
       |b AS (SELECT vec_id, unnest([
       |  ${h60("concat(CAST(vec_id AS VARCHAR), '#0')")} % (SELECT nb FROM nbk),
       |  ${h60("concat(CAST(vec_id AS VARCHAR), '#1')")} % (SELECT nb FROM nbk)
       |    + (SELECT nb FROM nbk)]) AS bkt
       |  FROM e),
       |c0 AS (SELECT DISTINCT a.vec_id AS src_id, b2.vec_id AS nbr_id
       |  FROM b a JOIN b b2 ON a.bkt = b2.bkt AND a.vec_id <> b2.vec_id),
       |s0 AS (SELECT c0.src_id, c0.nbr_id,
       |  round(${cosSql("ev.v", "ew.v")}, 4) AS cos_sim
       |  FROM c0 JOIN $sv ev ON ev.vec_id = c0.src_id
       |  JOIN $sv ew ON ew.vec_id = c0.nbr_id),
       |g0 AS (${topk("s0")}),
       |${iterCtes("g0", 1)},
       |${iterCtes("g1", 2)},
       |${iterCtes("g2", 3)}""".stripMargin
  }

  /** Beam-search CTE chain — twin of Similarity.beamSearchTopK (nQ=5,
    * beam=16, hops=4, entry coin %16 capped at 64): assumes `e` and a
    * graph CTE `g(src_id, nbr_id)` in scope; the final beam CTE is bb4.
    * MATERIALIZED beams for the graph_kcore reason. Shared by both
    * graph-ANN twins. */
  private lazy val beamSearchCtes: String = {
    val hopCtes = (1 to 4).map { i =>
      s"""bc$i AS (SELECT DISTINCT q_id, vec_id FROM (
         |  SELECT b.q_id, g.nbr_id AS vec_id FROM bb${i - 1} b
         |  JOIN g ON g.src_id = b.vec_id
         |  UNION ALL SELECT q_id, vec_id FROM bb${i - 1})),
         |bs$i AS (SELECT c.q_id, c.vec_id,
         |  round(${cosSql("q.q_v", "e.v")}, 4) AS cos_sim
         |  FROM bc$i c JOIN e ON e.vec_id = c.vec_id JOIN q ON q.q_id = c.q_id
         |  WHERE c.vec_id <> c.q_id),
         |bb$i AS MATERIALIZED (SELECT q_id, vec_id, cos_sim FROM (
         |  SELECT *, row_number() OVER (PARTITION BY q_id
         |    ORDER BY cos_sim DESC, vec_id ASC) AS rn
         |  FROM bs$i) WHERE rn <= 16)""".stripMargin
    }.mkString(",\n")
    s"""q AS MATERIALIZED (SELECT vec_id AS q_id, v AS q_v FROM e WHERE vec_id < 5),
       |ent AS (SELECT vec_id FROM e WHERE vec_id % 16 = 0
       |  ORDER BY vec_id LIMIT 64),
       |bs0 AS (SELECT q.q_id, ent.vec_id,
       |  round(${cosSql("q.q_v", "e.v")}, 4) AS cos_sim
       |  FROM q CROSS JOIN ent JOIN e ON e.vec_id = ent.vec_id
       |  WHERE ent.vec_id <> q.q_id),
       |bb0 AS MATERIALIZED (SELECT q_id, vec_id, cos_sim FROM (
       |  SELECT *, row_number() OVER (PARTITION BY q_id
       |    ORDER BY cos_sim DESC, vec_id ASC) AS rn
       |  FROM bs0) WHERE rn <= 16),
       |$hopCtes""".stripMargin
  }

  private val docs = s"read_parquet('$sfDir/documents.parquet')"
  private val embs = s"read_parquet('$sfDir/embeddings.parquet')"

  /** Embedding count for this sf dir, from the parquet footer (no Spark
    * session needed) — the banded-SRP twin must mirror the Spark side's
    * corpus-size-dependent [[graft.operators.Similarity.autoBitsPerBand]]
    * at EVERY scale, not just the sf0.01 gate where the clamp happens to
    * land on 4. If the file exists locally but the footer read fails we
    * FAIL FAST — a silent gate-size fallback would mis-size srpBits at
    * any other scale and surface as an opaque oracle hash mismatch.
    * Only when the file is absent (oracle SQL rendered off-box) do we
    * assume the gate size, loudly. */
  private val embCount: Long = {
    val path = s"$sfDir/embeddings.parquet"
    scala.util.Try {
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(path),
        new org.apache.hadoop.conf.Configuration())
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try r.getRecordCount finally r.close()
    } match {
      case scala.util.Success(n) => n
      case scala.util.Failure(e) if new java.io.File(path).exists() =>
        throw new IllegalStateException(
          s"parquet footer read failed for existing $path — refusing to " +
            "guess the corpus size (srpBits would silently mis-size)", e)
      case scala.util.Failure(e) =>
        System.err.println(
          s"[OracleSql] $path absent ($e) — assuming gate corpus size 500")
        500L
    }
  }

  /** Twin of the auto-sized band width srpNearDupPairs resolves at run
    * time (one count() job there, one footer read here). */
  private val srpBits: Int = graft.operators.Similarity.autoBitsPerBand(embCount)

  /** Root graft.sources.Layout materializes for this sf dir (its default
    * root) — derived with the same baseOf logic, never a pinned literal. */
  private val layoutBase =
    s"/root/repo/target/graft-layout/${graft.sources.Layout.baseOf(sfDir)}"

  // ---- relational -------------------------------------------------------

  private val relational: Map[String, String] = Map(
    "rel_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  round(sum(l_extendedprice), 2) AS sum_base_price,
        |  round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS sum_disc_price,
        |  round(avg(l_quantity), 4) AS avg_qty,
        |  round(avg(l_extendedprice), 4) AS avg_price,
        |  count(*) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin,
    "rel_filter_project" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |WHERE o_orderstatus = 'F' AND o_totalprice > 150000.0""".stripMargin,
    "rel_distinct" ->
      "SELECT DISTINCT c_mktsegment, c_nationkey FROM customer",
    "rel_topk" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10""".stripMargin,
    "rel_left_join_agg" ->
      """SELECT c.c_custkey,
        |  count(o.o_orderkey) AS order_count,
        |  round(coalesce(sum(o.o_totalprice), 0.0), 2) AS total_spent
        |FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
        |GROUP BY c.c_custkey""".stripMargin,
    "rel_join_inner" ->
      """SELECT r.r_name, n.n_name, count(*) AS n_cust,
        |  round(avg(c.c_acctbal), 2) AS avg_bal
        |FROM customer c
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |JOIN region r ON n.n_regionkey = r.r_regionkey
        |GROUP BY r.r_name, n.n_name""".stripMargin,
    "rel_semi_join" ->
      """SELECT o_orderstatus, count(*) AS n FROM orders
        |WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
        |GROUP BY o_orderstatus""".stripMargin,
    "rel_anti_join" ->
      """SELECT count(*) AS n_cust_no_orders FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)""".stripMargin,
    "rel_window_top_per_key" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
        |  FROM orders) WHERE rn <= 3""".stripMargin,
    "rel_cte_top_segments" ->
      """WITH cust_nation AS (
        |  SELECT n.n_name, c.c_mktsegment FROM customer c
        |  JOIN nation n ON c.c_nationkey = n.n_nationkey),
        |top_nations AS (
        |  SELECT n_name FROM cust_nation GROUP BY n_name
        |  ORDER BY count(*) DESC, n_name ASC LIMIT 3),
        |seg AS (
        |  SELECT n_name, c_mktsegment, count(*) AS n FROM cust_nation
        |  WHERE n_name IN (SELECT n_name FROM top_nations)
        |  GROUP BY n_name, c_mktsegment)
        |SELECT n_name, c_mktsegment, n FROM (
        |  SELECT *, row_number() OVER (PARTITION BY n_name ORDER BY n DESC, c_mktsegment ASC) AS rnk
        |  FROM seg) WHERE rnk <= 2""".stripMargin,
    "rel_in_list_range" ->
      """SELECT l_returnflag, count(*) AS n, round(sum(l_extendedprice), 2) AS sum_price
        |FROM lineitem
        |WHERE l_returnflag IN ('A','R') AND l_quantity > 30.0
        |  AND l_shipdate >= TIMESTAMP '1995-01-01'
        |GROUP BY l_returnflag""".stripMargin,
    "rel_star_join_revenue" ->
      """SELECT n.n_name, round(sum(l.l_extendedprice * (1.0 - l.l_discount)), 2) AS revenue
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |JOIN region r ON n.n_regionkey = r.r_regionkey
        |GROUP BY n.n_name""".stripMargin,
    "rel_date_parts" ->
      """SELECT CAST(year(o_orderdate) AS BIGINT) AS order_year,
        |  CAST(month(o_orderdate) AS BIGINT) AS order_month,
        |  count(*) AS n,
        |  round(min(o_totalprice), 2) AS min_price,
        |  round(max(o_totalprice), 2) AS max_price
        |FROM orders GROUP BY 1, 2""".stripMargin,
    "rel_set_ops" ->
      """SELECT custkey FROM (
        |  SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        |  UNION
        |  SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 300000.0)
        |EXCEPT SELECT c_custkey AS custkey FROM customer WHERE c_nationkey = 3""".stripMargin,
    "rel_count_distinct" ->
      """SELECT o_orderstatus, count(DISTINCT o_custkey) AS n_cust
        |FROM orders GROUP BY o_orderstatus""".stripMargin,
    "rel_having" ->
      """SELECT c_nationkey, count(*) AS n FROM customer
        |GROUP BY c_nationkey HAVING count(*) > 50""".stripMargin,
    "rel_case_buckets" ->
      """SELECT bucket, count(*) AS n FROM (
        |  SELECT CASE WHEN o_totalprice > 300000.0 THEN 'big'
        |              WHEN o_totalprice > 150000.0 THEN 'mid'
        |              ELSE 'small' END AS bucket FROM orders)
        |GROUP BY bucket""".stripMargin,
    "rel_rollup" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS sum_price
        |FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority)""".stripMargin,
    "rel_intersect" ->
      """SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        |INTERSECT
        |SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 200000.0""".stripMargin,
    "rel_median" ->
      """SELECT o_orderstatus,
        |  round(quantile_cont(o_totalprice, 0.5), 2) AS median_price,
        |  round(quantile_cont(o_totalprice, 0.9), 2) AS p90_price
        |FROM orders GROUP BY o_orderstatus""".stripMargin,
    "rel_scalar_subquery" ->
      """SELECT o_orderstatus, count(*) AS n_above_avg FROM orders
        |WHERE o_totalprice > (SELECT avg(o_totalprice) FROM orders)
        |GROUP BY o_orderstatus""".stripMargin,
    "rel_brand_revenue" ->
      """SELECT p.p_brand, round(sum(l.l_extendedprice * (1.0 - l.l_discount)), 2) AS revenue,
        |  count(DISTINCT s.s_nationkey) AS n_supplier_nations,
        |  count(*) AS n_lines
        |FROM lineitem l
        |JOIN part p ON l.l_partkey = p.p_partkey
        |JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |GROUP BY p.p_brand""".stripMargin,
    "rel_bucketed_join_revenue" ->
      // the Spark side reads bucketed catalog tables written from the
      // same parquet — the layout changes the plan, never the result
      """SELECT o.o_orderpriority, count(*) AS n_lines,
        |  round(sum(l.l_extendedprice * (1.0 - l.l_discount)), 2) AS revenue
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |GROUP BY o.o_orderpriority""".stripMargin,
    "rel_cube" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS sum_price
        |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)""".stripMargin,
    "rel_pivot" -> {
      val prios = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
      val cols = prios.map(p =>
        s"""count(CASE WHEN o_orderpriority = '$p' THEN 1 END) AS "$p"""").mkString(",\n  ")
      s"""SELECT o_orderstatus,
         |  $cols
         |FROM orders GROUP BY o_orderstatus""".stripMargin
    },
    // the salted rewrites must be INVISIBLE in the result: their oracle
    // twins are the plain unsalted SQL, hash-compared through the gate
    "rel_salted_agg" ->
      """SELECT l_returnflag, count(*) AS n, round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    "rel_salted_join" ->
      """SELECT s.s_nationkey, count(*) AS n_lines,
        |  round(sum(l.l_extendedprice * (1.0 - l.l_discount)), 2) AS revenue
        |FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |GROUP BY s.s_nationkey""".stripMargin,
    "rel_grouping_sets" ->
      // twin of Relational.q30GroupingSets — same explicit set list and
      // GROUPING() markers (cast BIGINT to match Spark's byte→long cast)
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  CAST(GROUPING(l_returnflag) AS BIGINT) AS g_rf,
        |  CAST(GROUPING(l_linestatus) AS BIGINT) AS g_ls
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())""".stripMargin,
    "rel_unpivot" ->
      // twin of Relational.q31Unpivot — the melt is stated as its UNION
      // ALL definition (metric name = the pre-unpivot column alias; both
      // value columns pre-cast to DOUBLE exactly as the Spark side does)
      """SELECT p_partkey, 'retailprice' AS metric, CAST(p_retailprice AS DOUBLE) AS val FROM part
        |UNION ALL
        |SELECT p_partkey, 'psize' AS metric, CAST(p_size AS DOUBLE) AS val FROM part""".stripMargin,
    "rel_bloom_prune_join" ->
      // twin of Relational.q33BloomPrunedJoin — the bloom gate is a
      // PERFORMANCE device with exact semantics (false positives die in
      // the equi-join), so the oracle is the plain selective join
      """SELECT p_type, count(*) AS n_lines,
        |  round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
        |FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |WHERE p.p_brand = 'Brand#4'
        |GROUP BY p_type""".stripMargin,
    "rel_full_outer" ->
      // twin of Relational.q32FullOuter — disjoint-ish nation filters so
      // both unmatched directions exist in the result
      """WITH sup AS (SELECT s_nationkey, count(*) AS n_suppliers
        |  FROM supplier WHERE s_nationkey < 15 GROUP BY s_nationkey),
        |cust AS (SELECT c_nationkey, count(*) AS n_customers
        |  FROM customer WHERE c_nationkey >= 10 GROUP BY c_nationkey)
        |SELECT coalesce(s_nationkey, c_nationkey) AS nationkey,
        |  coalesce(n_suppliers, 0) AS n_suppliers,
        |  coalesce(n_customers, 0) AS n_customers
        |FROM sup FULL OUTER JOIN cust ON s_nationkey = c_nationkey""".stripMargin,
    "rel_approx_distinct" ->
      // twin of Relational.q23ApproxDistinct — sketch VALUES are
      // engine-specific, so each engine checks ITS OWN estimate against
      // the exact count with the same ±max(5%, 5) bound; the
      // hash-compared columns are the exact count and the verdict
      """SELECT o_orderstatus,
        |  count(DISTINCT o_custkey) AS n_cust_exact,
        |  (abs(approx_count_distinct(o_custkey) - count(DISTINCT o_custkey))::DOUBLE
        |     <= greatest(count(DISTINCT o_custkey) * 0.05, 5.0)) AS within_bound
        |FROM orders GROUP BY o_orderstatus""".stripMargin,
    "rel_approx_percentile" ->
      // twin of Relational.q34ApproxPercentile — each engine checks ITS
      // OWN sketch against the exact 45th..55th percentile bracket; the
      // hash-compared columns are the exact median and the verdict
      """SELECT o_orderstatus,
        |  round(quantile_cont(o_totalprice, 0.5), 2) AS median_exact,
        |  (approx_quantile(o_totalprice, 0.5) >= quantile_cont(o_totalprice, 0.45)
        |   AND approx_quantile(o_totalprice, 0.5) <= quantile_cont(o_totalprice, 0.55))
        |    AS within_bracket
        |FROM orders GROUP BY o_orderstatus""".stripMargin,
    "rel_string_funcs" ->
      // twin of Relational.q35StringFuncs — same scalar chain, same
      // rollup; counts/sums BIGINT to match Spark's long casts
      """SELECT type3, count(*) AS n,
        |  CAST(sum(n_brand_digits) AS BIGINT) AS sum_brand_digits,
        |  CAST(sum(has_red) AS BIGINT) AS n_with_red,
        |  round(avg(n_name_words), 4) AS avg_name_words
        |FROM (SELECT
        |    upper(substr(p_type, 1, 3)) AS type3,
        |    CAST(length(regexp_replace(p_brand, '[^0-9]', '', 'g')) AS BIGINT) AS n_brand_digits,
        |    CASE WHEN instr(p_name, 'red') > 0 THEN 1 ELSE 0 END AS has_red,
        |    CAST(len(string_split(trim(p_name), ' ')) AS BIGINT) AS n_name_words
        |  FROM part)
        |GROUP BY type3""".stripMargin,
    "rel_cross_join" ->
      // twin of Relational.q38CrossJoin
      """SELECT r.r_name, n.n_name,
        |  (n.n_regionkey = r.r_regionkey) AS is_member
        |FROM region r CROSS JOIN nation n""".stripMargin,
    "rel_window_ranks" ->
      // twin of Relational.q36WindowRanks — same unique order key, so
      // ntile/percent_rank/cume_dist agree exactly; quartile rollup
      """SELECT o_orderstatus, quartile, count(*) AS n,
        |  round(min(o_totalprice), 2) AS min_price,
        |  round(max(pr), 6) AS max_pr,
        |  round(max(cd), 6) AS max_cd
        |FROM (SELECT o_orderstatus, o_totalprice,
        |    CAST(ntile(4) OVER w AS BIGINT) AS quartile,
        |    percent_rank() OVER w AS pr,
        |    cume_dist() OVER w AS cd
        |  FROM orders
        |  WINDOW w AS (PARTITION BY o_orderstatus
        |    ORDER BY o_totalprice ASC, o_orderkey ASC))
        |GROUP BY o_orderstatus, quartile""".stripMargin,
    "rel_array_agg" ->
      // twin of Relational.q37ArrayAgg — list() with the same unique
      // in-group order, sliced to 3; JSON rendering of the key list and
      // a sequential sum of the price slice
      """SELECT o_orderstatus,
        |  to_json(ks[1:3]) AS top3_keys,
        |  round(list_sum(ps[1:3]), 2) AS top3_sum
        |FROM (SELECT o_orderstatus,
        |    list(o_orderkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS ks,
        |    list(o_totalprice ORDER BY o_totalprice DESC, o_orderkey ASC) AS ps
        |  FROM orders GROUP BY o_orderstatus)""".stripMargin,
    "rel_window_frames" ->
      """WITH o AS (SELECT o_custkey, o_orderkey, o_orderdate,
        |  CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders)
        |SELECT o_custkey, o_orderkey,
        |  sum(cents) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) / 100.0 AS running_total,
        |  round(sum(cents) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)::DOUBLE /
        |    (count(*) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) * 100.0), 4) AS moving_avg3,
        |  (cents - coalesce(lag(cents, 1) OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderdate, o_orderkey), cents)) / 100.0 AS delta_prev
        |FROM o""".stripMargin,
    "rel_stats_agg" ->
      // twin of Relational.q39StatsAgg — stddev/var/corr/covar agree
      // directly (both engines' defaults are the sample estimators);
      // skewness does NOT: Spark computes the population estimator
      // g1 = m3/m2^1.5, DuckDB the bias-corrected sample estimator
      // G1 = g1*sqrt(n(n-1))/(n-2), so the twin converts explicitly
      // via g1 = G1*(n-2)/sqrt(n(n-1)) before the shared round(.,4)
      """SELECT l_returnflag,
        |  round(stddev_samp(l_quantity), 4) AS sd_qty,
        |  round(var_samp(l_quantity), 4) AS var_qty,
        |  round(corr(l_quantity, l_extendedprice), 4) AS corr_qty_price,
        |  round(covar_samp(l_quantity, l_extendedprice), 2) AS covar_qty_price,
        |  round(skewness(l_extendedprice)
        |        * (count(l_extendedprice) - 2)
        |        / sqrt(count(l_extendedprice) * (count(l_extendedprice) - 1.0)),
        |    4) AS skew_price
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    "rel_latest_per_key" ->
      // twin of Relational.q40LatestPerKey — identical window spec with
      // the o_orderkey DESC tiebreak, so the survivor row is
      // deterministic in both engines
      """SELECT o_custkey, o_orderkey AS latest_orderkey,
        |  o_orderdate AS latest_date, o_totalprice AS latest_price
        |FROM (SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        |  FROM orders)
        |WHERE rn = 1""".stripMargin,
    "rel_conditional_agg" ->
      // twin of Relational.q41ConditionalAgg — Spark count_if/bool_or/
      // bool_and map to DuckDB FILTER-clause counts and the same
      // bool aggregates; counts are BIGINT in both engines
      """SELECT o_orderpriority, count(*) AS n,
        |  count(*) FILTER (WHERE o_totalprice > 200000.0) AS n_big,
        |  count(*) FILTER (WHERE o_orderstatus = 'F') AS n_finished,
        |  bool_or(o_totalprice > 400000.0) AS any_jumbo,
        |  bool_and(o_totalprice > 1000.0) AS all_above_floor
        |FROM orders GROUP BY o_orderpriority""".stripMargin,
    "rel_scd2_intervals" ->
      // twin of Relational.q42Scd2Intervals — same window spec with the
      // o_orderkey tiebreak, open interval keeps NULL valid_to
      """SELECT o_custkey, o_orderkey, o_totalprice,
        |  o_orderdate AS valid_from,
        |  lead(o_orderdate) OVER w AS valid_to,
        |  (lead(o_orderdate) OVER w IS NULL) AS is_current
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey
        |  ORDER BY o_orderdate ASC, o_orderkey ASC)""".stripMargin,
    "rel_scd2_asof" ->
      // twin of Relational.q43Scd2Asof — the interval CTE joined by the
      // custkey equi key with the residual as-of range; disjoint
      // intervals keep at most one row per probe
      """WITH hist AS (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    o_orderdate AS valid_from,
        |    lead(o_orderdate) OVER (PARTITION BY o_custkey
        |      ORDER BY o_orderdate ASC, o_orderkey ASC) AS valid_to
        |  FROM orders),
        |probes AS (SELECT c_custkey,
        |  unnest([DATE '1993-06-17', DATE '1995-01-01', DATE '1997-10-01']) AS asof_date
        |  FROM customer)
        |SELECT c_custkey, asof_date, o_orderkey, o_totalprice, valid_from, valid_to
        |FROM probes JOIN hist ON c_custkey = o_custkey
        |  AND valid_from <= asof_date
        |  AND (valid_to IS NULL OR asof_date < valid_to)""".stripMargin,
    "rel_scd2_snapshot_at" ->
      // twin of Relational.q47Scd2SnapshotAt — the interval CTE filtered
      // to the one row per key whose interval covers the snapshot date
      """WITH hist AS (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    o_orderdate AS valid_from,
        |    lead(o_orderdate) OVER (PARTITION BY o_custkey
        |      ORDER BY o_orderdate ASC, o_orderkey ASC) AS valid_to
        |  FROM orders)
        |SELECT o_custkey, o_orderkey, o_totalprice, valid_from, valid_to,
        |  (valid_to IS NULL) AS is_current
        |FROM hist
        |WHERE valid_from <= DATE '1995-06-17'
        |  AND (valid_to IS NULL OR DATE '1995-06-17' < valid_to)""".stripMargin,
    "rel_scd2_snapshot_diff" ->
      // twin of Relational.q51SnapshotDiff — the two snapshot images as
      // filters over one interval CTE, full-outer joined 1:1 on the key
      // (interval disjointness), unchanged rows dropped
      """WITH hist AS (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    o_orderdate AS valid_from,
        |    lead(o_orderdate) OVER (PARTITION BY o_custkey
        |      ORDER BY o_orderdate ASC, o_orderkey ASC) AS valid_to
        |  FROM orders),
        |snap_a AS (SELECT o_custkey, o_orderkey, o_totalprice FROM hist
        |  WHERE valid_from <= DATE '1996-06-17'
        |    AND (valid_to IS NULL OR DATE '1996-06-17' < valid_to)),
        |snap_b AS (SELECT o_custkey, o_orderkey, o_totalprice FROM hist
        |  WHERE valid_from <= DATE '1999-06-17'
        |    AND (valid_to IS NULL OR DATE '1999-06-17' < valid_to))
        |SELECT coalesce(a.o_custkey, b.o_custkey) AS o_custkey,
        |  CASE WHEN a.o_custkey IS NULL THEN 'added'
        |       WHEN b.o_custkey IS NULL THEN 'removed'
        |       ELSE 'changed' END AS change_type,
        |  a.o_orderkey AS orderkey_from, a.o_totalprice AS price_from,
        |  b.o_orderkey AS orderkey_to, b.o_totalprice AS price_to
        |FROM snap_a a FULL OUTER JOIN snap_b b ON a.o_custkey = b.o_custkey
        |WHERE a.o_custkey IS NULL OR b.o_custkey IS NULL
        |  OR a.o_orderkey <> b.o_orderkey
        |  OR a.o_totalprice <> b.o_totalprice""".stripMargin,
    "rel_column_profile" -> {
      // twin of Relational.q49ColumnProfile — the stack unpivot as a
      // UNION ALL of per-column projections onto the shared DOUBLE axis;
      // count(DISTINCT) skips nulls in both engines
      val cols = Seq("l_orderkey", "l_partkey", "l_suppkey",
        "l_quantity", "l_extendedprice", "l_discount")
      val unpivot = cols.map(c =>
        s"SELECT '$c' AS col_name, CAST($c AS DOUBLE) AS val FROM lineitem")
        .mkString("\n  UNION ALL ")
      s"""SELECT col_name, count(*) AS n_rows,
         |  count(*) - count(val) AS n_nulls,
         |  count(DISTINCT val) AS n_distinct,
         |  min(val) AS min_v, max(val) AS max_v
         |FROM ($unpivot)
         |GROUP BY col_name""".stripMargin
    },
    "rel_table_checksum" -> {
      // twin of Relational.q54TableChecksum: per-row hash60 over the
      // SAME canonical rendering (ints/strings verbatim, monetary
      // doubles as HALF_UP cents — both engines round away from zero —
      // dates as days-since-epoch), summed in DECIMAL(38,0) internally
      // but EMITTED as BIGINT via one final mod 2^61-1 — a fixed-width
      // integer no reader can render differently. The sum is
      // order-free, so the twin needs no ORDER BY to agree.
      def v(e: String) = s"CAST($e AS VARCHAR)"
      def cents(e: String) = v(s"CAST(round($e * 100) AS BIGINT)")
      def ep(e: String) =
        v(s"date_diff('day', DATE '1970-01-01', CAST($e AS DATE))")
      def row(tbl: String, cols: Seq[String]) =
        s"""SELECT '$tbl' AS table_name, CAST(count(*) AS BIGINT) AS n_rows,
           |  CAST(sum(CAST(h AS DECIMAL(38,0)))
           |    % CAST(2305843009213693951 AS DECIMAL(38,0)) AS BIGINT)
           |    AS row_checksum
           |FROM (SELECT ${h60(s"concat_ws('|', ${cols.mkString(", ")})")} AS h
           |  FROM $tbl)""".stripMargin
      Seq(
        row("lineitem", Seq(v("l_orderkey"), v("l_linenumber"),
          cents("l_quantity"), cents("l_extendedprice"), cents("l_discount"),
          cents("l_tax"), "l_returnflag", "l_linestatus", ep("l_shipdate"))),
        row("orders", Seq(v("o_orderkey"), v("o_custkey"), "o_orderstatus",
          cents("o_totalprice"), ep("o_orderdate"), "o_orderpriority")),
        row("customer", Seq(v("c_custkey"), "c_name", v("c_nationkey"),
          cents("c_acctbal"), "c_mktsegment")))
        .mkString("\nUNION ALL\n")
    },
    "rel_fk_audit" -> {
      // twin of Relational.q55FkAudit: per FK relation, a left join of
      // child keys against the DISTINCT parent key set with exact
      // conditional counts; the rate divides once and rounds to 6
      def fk(child: String, key: String, parent: String, pkey: String,
             name: String) =
        s"""SELECT '$name' AS relation, CAST(count(*) AS BIGINT) AS n_child,
           |  CAST(sum(CASE WHEN k IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_null,
           |  CAST(sum(CASE WHEN k IS NOT NULL AND pk IS NULL
           |    THEN 1 ELSE 0 END) AS BIGINT) AS n_orphan,
           |  round(CAST(sum(CASE WHEN k IS NOT NULL AND pk IS NULL
           |    THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS orphan_rate
           |FROM (SELECT $key AS k FROM $child) c
           |LEFT JOIN (SELECT DISTINCT $pkey AS pk FROM $parent) p
           |ON c.k = p.pk""".stripMargin
      Seq(
        fk("lineitem", "l_orderkey", "orders", "o_orderkey",
          "lineitem.l_orderkey->orders"),
        fk("lineitem", "l_partkey", "part", "p_partkey",
          "lineitem.l_partkey->part"),
        fk("lineitem", "l_suppkey", "supplier", "s_suppkey",
          "lineitem.l_suppkey->supplier"),
        fk("orders", "o_custkey", "customer", "c_custkey",
          "orders.o_custkey->customer"),
        fk("customer", "c_nationkey", "nation", "n_nationkey",
          "customer.c_nationkey->nation"))
        .mkString("\nUNION ALL\n")
    },
    "rel_histogram_quantiles" ->
      // twin of Relational.q53HistogramQuantiles (nBins=1024, p in
      // {0.5,0.9,0.99,0.999}): bin/threshold/estimate expressions are
      // the SAME left-to-right double chains as the Spark side, so
      // floor/compare land on identical bits; the degenerate mx=mn
      // guard mirrors Spark's (floor(0/0) is NaN, not 0)
      s"""WITH x AS (SELECT l_extendedprice AS x FROM lineitem),
         |mm AS (SELECT min(x) AS mn, max(x) AS mx FROM x),
         |hist AS (SELECT CASE WHEN mx = mn THEN 0
         |    ELSE least(CAST(floor((x - mn) / (mx - mn) * 1024) AS BIGINT), 1023)
         |    END AS bin, count(*) AS n
         |  FROM x CROSS JOIN mm GROUP BY 1),
         |tot AS (SELECT sum(n) AS n_total FROM hist),
         |cum AS (SELECT bin,
         |    sum(n) OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING
         |      AND CURRENT ROW) AS cum FROM hist),
         |p AS (SELECT unnest([0.5, 0.9, 0.99, 0.999]) AS p),
         |q AS (SELECT p.p, min(c.bin) AS bin
         |  FROM cum c CROSS JOIN tot CROSS JOIN p
         |  WHERE CAST(c.cum AS DOUBLE) >= p.p * CAST(tot.n_total AS DOUBLE)
         |  GROUP BY p.p)
         |SELECT q.p AS percentile, q.bin,
         |  round(CASE WHEN mx = mn THEN mn
         |    ELSE mn + CAST(q.bin AS DOUBLE) * ((mx - mn) / 1024) END, 6)
         |    AS est_value,
         |  CAST(tot.n_total AS BIGINT) AS n_total
         |FROM q CROSS JOIN mm CROSS JOIN tot""".stripMargin,
    "rel_agg_delta_apply" ->
      // twin of Relational.q50AggDeltaApply — FULL RECOMPUTE over
      // (base − deletes) ∪ inserts, while the Spark side applies the
      // signed delta to the standing moment sketch: the hash compare
      // itself proves delta-apply ≡ recompute. Derived mean/var are
      // textually the same double expressions over the exact moments.
      s"""WITH o AS (SELECT o_custkey, o_orderkey,
         |    CAST(o_totalprice AS DECIMAL(18,2)) AS p FROM orders),
         |eff AS (
         |  SELECT o_custkey, p FROM o WHERE o_orderkey % 10 = 0
         |  UNION ALL
         |  SELECT o_custkey, p FROM o
         |  WHERE o_orderkey % 10 <> 0 AND o_orderkey % 17 <> 0),
         |agg AS (SELECT o_custkey, count(*) AS n_orders,
         |    sum(p) AS s, sum(p * p) AS s2
         |  FROM eff GROUP BY 1),
         |m AS (SELECT o_custkey, n_orders, s,
         |    CAST(s * 100 AS HUGEINT) AS sc,
         |    CAST(s2 * 10000 AS HUGEINT) AS s2e4,
         |    CAST(n_orders AS HUGEINT) AS n
         |  FROM agg)
         |SELECT o_custkey, n_orders,
         |  round(CAST(s AS DOUBLE), 2) AS total_spent,
         |  CAST((200 * sc + n) // (2 * n) AS DOUBLE) / 10000.0 AS mean_spent,
         |  CAST((2 * (n * s2e4 - sc * sc) + n * n) // (2 * n * n) AS DOUBLE)
         |    / 10000.0 AS var_spent
         |FROM m""".stripMargin,
    "rel_join_delta_view" ->
      // twin of Relational.q52JoinDeltaView — FULL RECOMPUTE of the
      // per-nation join view over the post-change tables (orders with
      // inserts applied and deletes removed; customers with the %13
      // nation move applied), while the Spark side applies the signed
      // delta expansion to the standing view: the hash compare itself
      // proves delta-apply ≡ recompute
      s"""WITH o AS (SELECT o_custkey, o_orderkey,
         |    CAST(o_totalprice AS DECIMAL(18,2)) AS p FROM orders),
         |rnew AS (
         |  SELECT o_custkey, p FROM o WHERE o_orderkey % 10 = 0
         |  UNION ALL
         |  SELECT o_custkey, p FROM o
         |  WHERE o_orderkey % 10 <> 0 AND o_orderkey % 17 <> 0),
         |snew AS (SELECT c_custkey,
         |  CASE WHEN c_custkey % 13 = 0 THEN (c_nationkey + 1) % 25
         |    ELSE c_nationkey END AS c_nationkey
         |  FROM customer)
         |SELECT s.c_nationkey, count(*) AS n_orders,
         |  round(CAST(sum(p) AS DOUBLE), 2) AS total_revenue
         |FROM rnew r JOIN snew s ON r.o_custkey = s.c_custkey
         |GROUP BY s.c_nationkey""".stripMargin,
    "rel_skew_audit" ->
      // twin of Relational.q48SkewAudit (k=20): per-key counts, global
      // head rank (the Spark side's two-phase bucket rank reduces to the
      // same total order), shares as double arithmetic, cumulative share
      // summed over the already-filtered head exactly as Spark does
      """WITH counts AS (SELECT l_suppkey, count(*) AS cnt
        |  FROM lineitem GROUP BY l_suppkey),
        |total AS (SELECT sum(cnt) AS total FROM counts),
        |head AS (SELECT l_suppkey, cnt,
        |  row_number() OVER (ORDER BY cnt DESC, l_suppkey ASC) AS rank
        |  FROM counts QUALIFY rank <= 20)
        |SELECT CAST(rank AS BIGINT) AS rank, l_suppkey, cnt,
        |  round(cnt * CAST(100.0 AS DOUBLE) / total, 6) AS share_pct,
        |  round(sum(cnt) OVER (ORDER BY cnt DESC, l_suppkey ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    * CAST(100.0 AS DOUBLE) / total, 6) AS cum_share_pct
        |FROM head CROSS JOIN total""".stripMargin,
    "rel_ntile_cume" ->
      // twin of Relational.q44NtileCume: decimal revenue sums rounded
      // once in double; the (revenue DESC, custkey ASC) total order
      // makes ntile/percent_rank/cume_dist deterministic on both engines
      """WITH rev AS (SELECT o_custkey,
        |  round(CAST(sum(CAST(o_totalprice AS DECIMAL(27,10))) AS DOUBLE), 2) AS revenue
        |  FROM orders GROUP BY o_custkey)
        |SELECT c.c_custkey, c.c_mktsegment, r.revenue,
        |  ntile(4) OVER w AS quartile,
        |  round(percent_rank() OVER w, 6) AS pct_rank,
        |  round(cume_dist() OVER w, 6) AS cume
        |FROM customer c JOIN rev r ON c.c_custkey = r.o_custkey
        |WINDOW w AS (PARTITION BY c.c_mktsegment ORDER BY r.revenue DESC, c.c_custkey ASC)""".stripMargin,
    "rel_scd2_late_splice" ->
      // twin of Relational.q46Scd2LateSplice: late batch = hash60(
      // orderkey)%16==0 withheld from the base history; affected keys
      // re-windowed (base + late), untouched keys' intervals verbatim
      s"""WITH src AS (SELECT o_custkey, o_orderkey, o_totalprice,
        |    o_orderdate AS valid_from,
        |    (${h60("CAST(o_orderkey AS VARCHAR)")} % 16 = 0) AS is_late
        |  FROM orders),
        |aff AS (SELECT DISTINCT o_custkey FROM src WHERE is_late),
        |hist0 AS (SELECT o_custkey, o_orderkey, o_totalprice, is_late, valid_from,
        |    lead(valid_from) OVER (PARTITION BY o_custkey
        |      ORDER BY valid_from ASC, o_orderkey ASC) AS valid_to
        |  FROM src WHERE NOT is_late),
        |untouched AS (SELECT o_custkey, o_orderkey, o_totalprice, is_late,
        |    valid_from, valid_to, 'untouched' AS splice
        |  FROM hist0 WHERE o_custkey NOT IN (SELECT o_custkey FROM aff)),
        |spliced AS (SELECT o_custkey, o_orderkey, o_totalprice, is_late, valid_from,
        |    lead(valid_from) OVER (PARTITION BY o_custkey
        |      ORDER BY valid_from ASC, o_orderkey ASC) AS valid_to,
        |    'spliced' AS splice
        |  FROM src WHERE o_custkey IN (SELECT o_custkey FROM aff))
        |SELECT o_custkey, o_orderkey, o_totalprice, valid_from, valid_to,
        |  (valid_to IS NULL) AS is_current, is_late, splice
        |FROM (SELECT * FROM untouched UNION ALL SELECT * FROM spliced)""".stripMargin,
    "rel_merge_upsert" ->
      // twin of Relational.q45MergeUpsert: MERGE INTO as a full-outer
      // join + coalesce, merge_action labelling all four arms
      // (update / insert / keep / delete); tombstone = hash60(key)%8==0
      // on the change key, unmatched tombstones dropped (delete of a
      // nonexistent row is a no-op), deleted rows carry the base state
      s"""WITH b AS (SELECT o_custkey,
        |  round(CAST(sum(CAST(o_totalprice AS DECIMAL(27,10))) AS DOUBLE), 2) AS spent,
        |  max(o_orderdate) AS last_order, count(*) AS n_orders
        |  FROM orders WHERE o_orderdate < DATE '1998-07-01' GROUP BY o_custkey),
        |c AS (SELECT o_custkey,
        |  round(CAST(sum(CAST(o_totalprice AS DECIMAL(27,10))) AS DOUBLE), 2) AS spent,
        |  max(o_orderdate) AS last_order, count(*) AS n_orders
        |  FROM orders WHERE o_orderdate >= DATE '1998-07-01' GROUP BY o_custkey),
        |j AS (SELECT b.o_custkey AS b_key, b.spent AS b_spent,
        |    b.last_order AS b_last, b.n_orders AS b_n,
        |    c.o_custkey AS c_key, c.spent AS c_spent,
        |    c.last_order AS c_last, c.n_orders AS c_n,
        |    (CASE WHEN c.o_custkey IS NULL THEN FALSE
        |      ELSE ${h60("CAST(c.o_custkey AS VARCHAR)")} % 8 = 0 END) AS tomb
        |  FROM b FULL OUTER JOIN c ON b.o_custkey = c.o_custkey)
        |SELECT coalesce(b_key, c_key) AS custkey,
        |  CASE WHEN tomb THEN b_spent
        |       ELSE round(coalesce(b_spent, 0.0) + coalesce(c_spent, 0.0), 2)
        |  END AS spent,
        |  CASE WHEN tomb THEN b_last
        |       WHEN c_key IS NOT NULL THEN c_last ELSE b_last END AS last_order,
        |  CASE WHEN tomb THEN b_n
        |       ELSE coalesce(b_n, 0) + coalesce(c_n, 0) END AS n_orders,
        |  CASE WHEN tomb THEN 'delete'
        |       WHEN b_key IS NULL THEN 'insert'
        |       WHEN c_key IS NULL THEN 'keep'
        |       ELSE 'update' END AS merge_action
        |FROM j WHERE NOT (b_key IS NULL AND tomb)""".stripMargin)

  // ---- text analysis ----------------------------------------------------

  /** Composite quality score over a `text` column — twin of
    * TextAnalysis.qualitySignals' third component; shared by the
    * score/filter/curation twins so the formula can never drift. */
  private lazy val qualitySql: String = {
    val nTok = s"len(${toks("lower(text)")})::DOUBLE"
    val alnum = s"length(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g'))::DOUBLE"
    val punct = s"((length(text)::DOUBLE - $alnum) / length(text)::DOUBLE)"
    val enHits =
      s"len(list_filter(${toks("lower(text)")}, t -> t IN ('the','a','of','and','to','in','is','it','that','for')))::DOUBLE"
    val stop = s"(CASE WHEN $nTok > 0 THEN $enHits / $nTok ELSE 0.0 END)"
    val lenScore = s"least($nTok / 64.0, 1.0)"
    s"$lenScore * 0.4 + (1.0 - $punct) * 0.3 + $stop * 0.3"
  }

  private val text: Map[String, String] = Map(
    "text_bigram_logprob" ->
      // twin of TextAnalysis.bigramLogprob: Jelinek-Mercer interpolated
      // bigram LM, 0.7/0.3 as literals on both sides (1.0-0.7 is a
      // different double than 0.3), terms rounded to 12 + DECIMAL sums
      s"""WITH t AS (SELECT doc_id, ${toks("lower(text)")} AS tk FROM $docs),
         |occ AS (SELECT doc_id, unnest(list_transform(range(1, len(tk)),
         |    i -> {'w1': tk[i], 'w2': tk[i+1]})) AS bg FROM t),
         |o AS (SELECT doc_id, bg.w1 AS w1, bg.w2 AS w2 FROM occ),
         |uni AS (SELECT unnest(tk) AS w FROM t),
         |u AS (SELECT w, count(*) AS c FROM uni GROUP BY w),
         |n AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM uni),
         |b AS (SELECT w1, w2, count(*) AS c12 FROM o GROUP BY w1, w2),
         |sc AS (SELECT o.doc_id, CAST(round(-ln(
         |    0.7 * (b.c12::DOUBLE / u1.c::DOUBLE)
         |      + 0.3 * (u2.c::DOUBLE / n.n_total::DOUBLE)), 12)
         |  AS DECIMAL(38,12)) AS term
         |  FROM o JOIN b ON o.w1 = b.w1 AND o.w2 = b.w2
         |  JOIN u u1 ON o.w1 = u1.w
         |  JOIN u u2 ON o.w2 = u2.w
         |  CROSS JOIN n),
         |pd AS (SELECT doc_id, count(*) AS n_bigrams,
         |    round(CAST(sum(term) AS DOUBLE) / count(*), 6) AS avg_neg_logprob
         |  FROM sc GROUP BY doc_id)
         |SELECT d.doc_id, coalesce(pd.n_bigrams, 0) AS n_bigrams,
         |  coalesce(pd.avg_neg_logprob, 0.0) AS avg_neg_logprob
         |FROM $docs d LEFT JOIN pd ON d.doc_id = pd.doc_id""".stripMargin,
    "text_pmi_bigrams" ->
      // twin of TextAnalysis.pmiBigrams (minCount=5, topN=50): adjacent
      // pair and unigram counts, PMI = ln((c12/Nb) / ((c1/N)*(c2/N)))
      // in the SAME op order rounded to 6, top 50 under (pmi desc, a, b)
      s"""WITH t AS (SELECT doc_id, ${toks("lower(text)")} AS tk FROM $docs),
         |occ AS (SELECT unnest(list_transform(range(1, len(tk)),
         |    i -> {'w1': tk[i], 'w2': tk[i+1]})) AS bg FROM t),
         |o AS (SELECT bg.w1 AS w1, bg.w2 AS w2 FROM occ),
         |uni AS (SELECT unnest(tk) AS w FROM t),
         |u AS (SELECT w, count(*) AS c FROM uni GROUP BY w),
         |nt AS (SELECT CAST(count(*) AS BIGINT) AS n_tok FROM uni),
         |nb AS (SELECT CAST(count(*) AS BIGINT) AS n_big FROM o),
         |b AS (SELECT w1, w2, count(*) AS c12 FROM o
         |  GROUP BY w1, w2 HAVING count(*) >= 5)
         |SELECT b.w1 AS term_a, b.w2 AS term_b, b.c12 AS n_pair,
         |  round(ln((b.c12::DOUBLE / nb.n_big)
         |    / ((u1.c::DOUBLE / nt.n_tok) * (u2.c::DOUBLE / nt.n_tok))), 6)
         |    AS pmi
         |FROM b JOIN u u1 ON b.w1 = u1.w JOIN u u2 ON b.w2 = u2.w
         |CROSS JOIN nt CROSS JOIN nb
         |ORDER BY pmi DESC, term_a, term_b LIMIT 50""".stripMargin,
    "text_char_entropy" ->
      // twin of TextAnalysis.charEntropy: per-char terms -p*log2(p)
      // rounded to 12, summed in DECIMAL; empty-skeleton docs kept at 0
      s"""WITH sk AS (SELECT doc_id,
         |    regexp_replace(lower(text), '[^a-z0-9]', '', 'g') AS s FROM $docs),
         |ch AS (SELECT doc_id,
         |    unnest(list_transform(range(1, len(s) + 1), j -> substr(s, j, 1))) AS ch
         |  FROM sk),
         |c AS (SELECT doc_id, ch, count(*) AS c FROM ch GROUP BY doc_id, ch),
         |t AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n, count(*) AS nd
         |  FROM c GROUP BY doc_id),
         |e AS (SELECT c.doc_id, CAST(round(
         |    -((c.c::DOUBLE / t.n::DOUBLE) * log2(c.c::DOUBLE / t.n::DOUBLE)),
         |    12) AS DECIMAL(38,12)) AS term
         |  FROM c JOIN t ON c.doc_id = t.doc_id),
         |agg AS (SELECT doc_id, round(CAST(sum(term) AS DOUBLE), 6) AS entropy
         |  FROM e GROUP BY doc_id)
         |SELECT d.doc_id, coalesce(t.n, 0) AS n_chars,
         |  coalesce(t.nd, 0) AS n_distinct_chars,
         |  coalesce(agg.entropy, 0.0) AS entropy
         |FROM $docs d
         |LEFT JOIN t ON d.doc_id = t.doc_id
         |LEFT JOIN agg ON d.doc_id = agg.doc_id""".stripMargin,
    "text_heavy_hitters" ->
      // twin of TextAnalysis.heavyHitters(phi=0.002): the plain
      // GROUP-BY-everything formulation whose full-vocabulary shuffle
      // the engine's Misra-Gries candidate pass avoids — final multiset
      // identical because MG candidates are a proven superset of the
      // >= ceil(phi*n) answer
      s"""WITH tok AS (SELECT unnest(${toks("lower(text)")}) AS token FROM $docs),
         |n AS (SELECT count(*) AS n_total FROM tok)
         |SELECT token, count(*) AS freq, n.n_total,
         |  round(count(*) / CAST(n.n_total AS DOUBLE), 6) AS rel_freq
         |FROM tok CROSS JOIN n
         |GROUP BY token, n.n_total
         |HAVING count(*) >= ceil(0.002 * n.n_total)""".stripMargin,
    "text_zipf_fit" ->
      // twin of TextAnalysis.zipfFit(nTerms=200): same (freq desc,
      // token asc) head, per-term ln/products rounded to 8 BEFORE the
      // DECIMAL sums (libm ULP differences vanish at 8 dp), finals
      // rounded to 6 from identical doubles
      s"""WITH tok AS (SELECT unnest(${toks("lower(text)")}) AS token FROM $docs),
         |freqs AS (SELECT token, count(*) AS freq FROM tok GROUP BY token
         |  ORDER BY freq DESC, token ASC LIMIT 200),
         |xy AS (SELECT round(ln(rnk), 8) AS x, round(ln(freq), 8) AS y FROM (
         |  SELECT freq, row_number() OVER (ORDER BY freq DESC, token ASC) AS rnk
         |  FROM freqs)),
         |xy2 AS (SELECT x, y, round(x*x, 8) AS xx, round(y*y, 8) AS yy,
         |  round(x*y, 8) AS xyp FROM xy),
         |sums AS (SELECT count(*) AS n_terms,
         |  CAST(sum(CAST(x AS DECIMAL(38,12))) AS DOUBLE) AS sx,
         |  CAST(sum(CAST(y AS DECIMAL(38,12))) AS DOUBLE) AS sy,
         |  CAST(sum(CAST(xx AS DECIMAL(38,12))) AS DOUBLE) AS sxx,
         |  CAST(sum(CAST(yy AS DECIMAL(38,12))) AS DOUBLE) AS syy,
         |  CAST(sum(CAST(xyp AS DECIMAL(38,12))) AS DOUBLE) AS sxy
         |  FROM xy2)
         |SELECT n_terms,
         |  round((n_terms * sxy - sx * sy) / (n_terms * sxx - sx * sx), 6)
         |    AS slope,
         |  round((sy - (n_terms * sxy - sx * sy)
         |    / (n_terms * sxx - sx * sx) * sx) / n_terms, 6) AS intercept,
         |  round(((n_terms * sxy - sx * sy) * (n_terms * sxy - sx * sy))
         |    / ((n_terms * sxx - sx * sx) * (n_terms * syy - sy * sy)), 6)
         |    AS r2
         |FROM sums""".stripMargin,
    "text_dedup_impact" ->
      // twin of TextAnalysis.dedupImpact: min-doc_id survivor per
      // normalized fingerprint (the dedup_exact grouping), before/after
      // token and type counts, and the survivors' unigram KL from the
      // full corpus — the text_source_kl ln-parity discipline
      s"""WITH kept AS (SELECT min(doc_id) AS doc_id FROM (
         |  SELECT doc_id, md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS fp
         |  FROM $docs) GROUP BY fp),
         |kd AS (SELECT d.doc_id, d.text FROM $docs d JOIN kept USING (doc_id)),
         |tf AS (SELECT term, count(*) AS c FROM (
         |  SELECT unnest(${toks("lower(text)")}) AS term FROM $docs) GROUP BY term),
         |tk AS (SELECT term, count(*) AS ck FROM (
         |  SELECT unnest(${toks("lower(text)")}) AS term FROM kd) GROUP BY term),
         |nf AS (SELECT CAST(sum(c) AS BIGINT) AS n, count(*) AS types FROM tf),
         |nk AS (SELECT CAST(sum(ck) AS BIGINT) AS nk, count(*) AS types_k FROM tk),
         |kl AS (SELECT round(CAST(sum(k) AS DOUBLE), 6) AS kl_kept_vs_full FROM (
         |  SELECT CAST(round((CAST(tk.ck AS DOUBLE) / nk.nk)
         |    * ln((CAST(tk.ck AS DOUBLE) / nk.nk)
         |      / (CAST(tf.c AS DOUBLE) / nf.n)), 12) AS DECIMAL(38,12)) AS k
         |  FROM tk JOIN tf USING (term) CROSS JOIN nk CROSS JOIN nf))
         |SELECT (SELECT count(*) FROM $docs) AS n_docs,
         |  (SELECT count(*) FROM kd) AS n_docs_kept,
         |  nf.n AS n_tokens, nf.types AS n_types,
         |  nk.nk AS n_tokens_kept, nk.types_k AS n_types_kept,
         |  kl.kl_kept_vs_full
         |FROM nf CROSS JOIN nk CROSS JOIN kl""".stripMargin,
    "text_heaps_fit" ->
      // twin of TextAnalysis.heapsFit (nPoints=64): per-doc token and
      // first-occurrence new-type counts aggregated to doc_id-range
      // buckets (step = mxid // 64 + 1), ROWS-cumulative over the
      // bounded bucket frame, then the zipf_fit LS chain verbatim
      // (ln/products rounded to 8 before DECIMAL sums, finals to 6)
      s"""WITH t AS (SELECT doc_id, ${toks("lower(text)")} AS tk FROM $docs),
         |mx AS (SELECT max(doc_id) AS mxid FROM $docs),
         |pd AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS nt FROM t),
         |fo AS (SELECT token, min(doc_id) AS fd FROM (
         |  SELECT doc_id, unnest(tk) AS token FROM t) GROUP BY token),
         |nv AS (SELECT fd, count(*) AS nv FROM fo GROUP BY fd),
         |b AS (SELECT pd.doc_id // (mx.mxid // 64 + 1) AS g, pd.nt,
         |  coalesce(nv.nv, 0) AS nv
         |  FROM pd LEFT JOIN nv ON pd.doc_id = nv.fd CROSS JOIN mx),
         |bk AS (SELECT g, sum(nt) AS bt, sum(nv) AS bv FROM b GROUP BY g),
         |cum AS (SELECT g,
         |  sum(bt) OVER (ORDER BY g ASC ROWS UNBOUNDED PRECEDING) AS cn,
         |  sum(bv) OVER (ORDER BY g ASC ROWS UNBOUNDED PRECEDING) AS cv
         |  FROM bk),
         |xy AS (SELECT round(ln(cn), 8) AS x, round(ln(cv), 8) AS y
         |  FROM cum WHERE cn > 0 AND cv > 0),
         |xy2 AS (SELECT x, y, round(x*x, 8) AS xx, round(y*y, 8) AS yy,
         |  round(x*y, 8) AS xyp FROM xy),
         |sums AS (SELECT count(*) AS n_points,
         |  CAST(sum(CAST(x AS DECIMAL(38,12))) AS DOUBLE) AS sx,
         |  CAST(sum(CAST(y AS DECIMAL(38,12))) AS DOUBLE) AS sy,
         |  CAST(sum(CAST(xx AS DECIMAL(38,12))) AS DOUBLE) AS sxx,
         |  CAST(sum(CAST(yy AS DECIMAL(38,12))) AS DOUBLE) AS syy,
         |  CAST(sum(CAST(xyp AS DECIMAL(38,12))) AS DOUBLE) AS sxy
         |  FROM xy2)
         |SELECT n_points,
         |  round((n_points * sxy - sx * sy) / (n_points * sxx - sx * sx), 6)
         |    AS beta,
         |  round((sy - (n_points * sxy - sx * sy)
         |    / (n_points * sxx - sx * sx) * sx) / n_points, 6) AS ln_k,
         |  round(((n_points * sxy - sx * sy) * (n_points * sxy - sx * sy))
         |    / ((n_points * sxx - sx * sx) * (n_points * syy - sy * sy)), 6)
         |    AS r2
         |FROM sums""".stripMargin,
    "text_ngram_novelty" -> {
      // twin of TextAnalysis.ngramNovelty (w=5): the common_spans
      // doc-distinct 5-shingle hash stream, gram-keyed min(doc_id)
      // first occurrence, per-doc novel fraction, left-join totality
      val tk = toks("lower(text)")
      s"""WITH t AS (SELECT doc_id, $tk AS tk FROM $docs),
         |g AS (SELECT doc_id, list_distinct(list_transform(
         |  CASE WHEN len(tk) >= 5
         |    THEN list_transform(range(1, len(tk) - 3),
         |      j -> concat_ws(' ', tk[j], tk[j+1], tk[j+2], tk[j+3], tk[j+4]))
         |    ELSE CAST([] AS VARCHAR[]) END,
         |  x -> ${h60("x")})) AS gh FROM t),
         |e AS (SELECT doc_id, unnest(gh) AS gram FROM g),
         |fd AS (SELECT gram, min(doc_id) AS fdoc FROM e GROUP BY gram),
         |pd AS (SELECT e.doc_id, count(*) AS n_grams,
         |  CAST(sum(CASE WHEN fd.fdoc = e.doc_id THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_novel,
         |  round(CAST(sum(CASE WHEN fd.fdoc = e.doc_id THEN 1 ELSE 0 END)
         |    AS DOUBLE) / count(*), 6) AS novelty_frac
         |  FROM e JOIN fd USING (gram) GROUP BY e.doc_id)
         |SELECT d.doc_id, coalesce(pd.n_grams, 0) AS n_grams,
         |  coalesce(pd.n_novel, 0) AS n_novel,
         |  coalesce(pd.novelty_frac, 0.0) AS novelty_frac
         |FROM $docs d LEFT JOIN pd ON d.doc_id = pd.doc_id""".stripMargin
    },
    "text_cms_estimate" ->
      // twin of TextAnalysis.cmsEstimate(depth=4, width=4096): the same
      // d seeded md5 hashes build a bit-identical counter matrix, the
      // same exact heavy-hitter set probes it — min over the d cells
      s"""WITH tok AS (SELECT unnest(${toks("lower(text)")}) AS token FROM $docs),
         |sk AS (
         |  SELECT j, ${h60("concat(token, '#cms', CAST(j AS VARCHAR))")} % 4096 AS bucket,
         |    count(*) AS cnt
         |  FROM tok CROSS JOIN range(4) t(j)
         |  GROUP BY 1, 2),
         |n AS (SELECT count(*) AS n_total FROM tok),
         |hh AS (
         |  SELECT token, count(*) AS freq
         |  FROM tok CROSS JOIN n
         |  GROUP BY token, n.n_total
         |  HAVING count(*) >= ceil(0.002 * n.n_total)),
         |probe AS (
         |  SELECT hh.token, hh.freq, j,
         |    ${h60("concat(hh.token, '#cms', CAST(j AS VARCHAR))")} % 4096 AS bucket
         |  FROM hh CROSS JOIN range(4) t(j))
         |SELECT p.token, p.freq, min(s.cnt) AS cms_est,
         |  min(s.cnt) - p.freq AS overestimate
         |FROM probe p JOIN sk s ON s.j = p.j AND s.bucket = p.bucket
         |GROUP BY p.token, p.freq""".stripMargin,
    "text_token_stats" ->
      s"""SELECT doc_id,
         |  CAST(len(${toks("lower(text)")}) AS BIGINT) AS n_tokens,
         |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS n_bpeish,
         |  CAST(length(text) AS BIGINT) AS n_chars_measured
         |FROM $docs""".stripMargin,
    "text_token_fertility" ->
      // twin of TextAnalysis.tokenFertility: exact per-source BIGINT
      // totals, three rounded divisions, null rates for zero-token
      // sources on both engines
      s"""WITH d AS (SELECT source,
         |    CAST(len(${toks("lower(text)")}) AS BIGINT) AS w,
         |    CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS b,
         |    CAST(length(text) AS BIGINT) AS c FROM $docs),
         |g AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(w) AS BIGINT) AS n_words, CAST(sum(b) AS BIGINT) AS n_bpeish,
         |    CAST(sum(c) AS BIGINT) AS n_chars
         |  FROM d GROUP BY source)
         |SELECT source, n_docs, n_words, n_bpeish, n_chars,
         |  CASE WHEN n_words > 0
         |    THEN round(CAST(n_bpeish AS DOUBLE) / CAST(n_words AS DOUBLE), 6)
         |    END AS fertility,
         |  CASE WHEN n_bpeish > 0
         |    THEN round(CAST(n_chars AS DOUBLE) / CAST(n_bpeish AS DOUBLE), 6)
         |    END AS chars_per_token,
         |  round(CAST(n_bpeish AS DOUBLE) / CAST(n_docs AS DOUBLE), 6)
         |    AS tokens_per_doc
         |FROM g""".stripMargin,
    "text_quality_score" -> {
      // ratio columns re-derived locally; the composite itself is the
      // shared $qualitySql fragment so it can never drift from the
      // filter/curation twins
      val nTok = s"len(${toks("lower(text)")})::DOUBLE"
      val alnum = s"length(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g'))::DOUBLE"
      val punct = s"((length(text)::DOUBLE - $alnum) / length(text)::DOUBLE)"
      val enHits =
        s"len(list_filter(${toks("lower(text)")}, t -> t IN ('the','a','of','and','to','in','is','it','that','for')))::DOUBLE"
      val stop = s"(CASE WHEN $nTok > 0 THEN $enHits / $nTok ELSE 0.0 END)"
      s"""SELECT doc_id,
         |  round($punct, 6) AS punct_ratio,
         |  round($stop, 6) AS stopword_ratio,
         |  round($qualitySql, 6) AS quality
         |FROM $docs""".stripMargin
    },
    "text_lexical_diversity" ->
      // twin of TextAnalysis.lexicalDiversity: same two-stage count
      // (within-doc type counts, per-doc rollup); integer moments exact,
      // each ratio divides once in double and rounds to 6
      s"""WITH tok AS (SELECT doc_id, unnest(${toks("lower(text)")}) AS token
         |  FROM $docs),
         |tc AS (SELECT doc_id, token, count(*) AS cnt FROM tok GROUP BY 1, 2),
         |d AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_tokens,
         |  count(*) AS n_types,
         |  CAST(sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
         |  CAST(sum(cnt * cnt) AS BIGINT) AS sum_cnt_sq
         |  FROM tc GROUP BY 1)
         |SELECT doc_id, n_tokens, n_types,
         |  round(CAST(n_types AS DOUBLE) / n_tokens, 6) AS ttr,
         |  round(CAST(n_hapax AS DOUBLE) / n_types, 6) AS hapax_frac,
         |  round(CAST(10000.0 AS DOUBLE) * CAST(sum_cnt_sq - n_tokens AS DOUBLE)
         |    / (CAST(n_tokens AS DOUBLE) * CAST(n_tokens AS DOUBLE)), 6) AS yule_k
         |FROM d""".stripMargin,
    "text_gopher_rules" ->
      // twin of TextAnalysis.gopherRules: every ratio rounded to 6
      // BEFORE its threshold compare — the flags compare identical
      // doubles on both engines; gopherFeaturesSql is this twin's
      // feature select (the quality-NB teacher does NOT share it — its
      // labels are the per-source quality-median verdict, see
      // nbQualityLabeled)
      s"""WITH g AS (${gopherFeaturesSql("source")})
         |SELECT *,
         |  (n_words >= 50 AND n_words <= 100000) AS r_word_count,
         |  (mean_word_len >= 3.0 AND mean_word_len <= 10.0) AS r_mean_word_len,
         |  (symbol_ratio <= 0.1) AS r_symbol,
         |  (bullet_frac <= 0.9) AS r_bullet,
         |  (ellipsis_line_frac <= 0.3) AS r_ellipsis,
         |  (alpha_word_frac >= 0.8) AS r_alpha,
         |  (n_stop_kinds >= 2) AS r_stop,
         |  ($gopherPassSql) AS gopher_pass
         |FROM g""".stripMargin,
    "text_ngram_counts" ->
      // twin of TextAnalysis.ngramCounts(n=2, k=20): DuckDB 1-based list
      // indexing, range(1, len) = positions of every bigram start; the
      // (count DESC, gram ASC) tie-break pins the top-k SET either side
      s"""WITH tk AS (SELECT ${toks("lower(text)")} AS tk FROM $docs),
         |g AS (SELECT unnest(list_transform(range(1, len(tk)),
         |        i -> tk[i] || ' ' || tk[i+1])) AS gram FROM tk)
         |SELECT gram, count(*) AS n FROM g
         |GROUP BY gram ORDER BY n DESC, gram ASC LIMIT 20""".stripMargin,
    "text_quality_filter" ->
      // twin of TextAnalysis.qualityFilterFrom: same composite-quality
      // formula, per-source exact median stated as quantile_cont(0.5) —
      // the Spark side's middle-two-average IS continuous-quantile
      // interpolation at 0.5, so the rounded doubles hash-match
      s"""WITH scored AS (
         |  SELECT doc_id, source, round($qualitySql, 6) AS quality
         |  FROM $docs)
         |SELECT doc_id, source, quality,
         |  round(quantile_cont(quality, 0.5) OVER (PARTITION BY source), 6) AS median_q
         |FROM scored
         |QUALIFY quality >= median_q""".stripMargin,
    "text_curation_manifest" ->
      // twin of TextAnalysis.curationManifest(budget=256): the three
      // stage twins chained — median gate, fingerprint dedup (min doc),
      // pack manifest — checking the SEAMS the per-stage gates can't
      s"""WITH scored AS (
         |  SELECT doc_id, source, text, round($qualitySql, 6) AS quality
         |  FROM $docs),
         |keep AS (SELECT doc_id, source, text FROM (
         |  SELECT *, round(quantile_cont(quality, 0.5) OVER (PARTITION BY source), 6) AS median_q
         |  FROM scored) WHERE quality >= median_q),
         |surv AS (SELECT doc_id, source, text FROM (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'))
         |    ORDER BY doc_id ASC) AS rn FROM keep) WHERE rn = 1),
         |d AS (SELECT doc_id, source,
         |  CAST(len(${toks("lower(text)")}) AS BIGINT) AS n_tok,
         |  ${h60("concat(CAST(doc_id AS VARCHAR), '#pack')")} AS hk
         |  FROM surv),
         |c AS (SELECT source, doc_id, n_tok,
         |  sum(n_tok) OVER (PARTITION BY source ORDER BY hk ASC, doc_id ASC) AS cum
         |  FROM d)
         |SELECT source, CAST(floor((cum - n_tok) / 256.0) AS BIGINT) AS pack_id,
         |  count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS pack_tokens
         |FROM c GROUP BY source, pack_id""".stripMargin,
    "text_lang_id" -> {
      val lists = Map(
        "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "it", "that", "for"),
        "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "zu", "mit"),
        "es" -> Seq("el", "la", "de", "que", "y", "los", "es", "un", "una"),
        "fr" -> Seq("le", "la", "les", "et", "des", "est", "une", "dans", "que"),
        "zh" -> Seq("的", "是", "在", "了", "不", "我", "有", "他", "这"))
      def hits(lang: String) =
        s"CAST(len(list_filter(tk, t -> t IN (${lists(lang).map(w => s"'$w'").mkString(",")}))) AS BIGINT)"
      s"""WITH t AS (SELECT doc_id, ${toks("lower(text)")} AS tk FROM $docs),
         |h AS (SELECT doc_id, ${hits("en")} AS s_en, ${hits("de")} AS s_de,
         |  ${hits("es")} AS s_es, ${hits("fr")} AS s_fr, ${hits("zh")} AS s_zh FROM t)
         |SELECT doc_id, s_en, s_de, s_es, s_fr, s_zh,
         |  CASE WHEN s_en + s_de + s_es + s_fr + s_zh = 0 THEN 'und'
         |       WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
         |       WHEN s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
         |       WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
         |       WHEN s_fr >= s_zh THEN 'fr'
         |       ELSE 'zh' END AS lang_guess
         |FROM h""".stripMargin
    },
    "text_langid_ngram" ->
      // twin of TextAnalysis.langIdNgram: rebuilds the SAME rank-profile
      // model in SQL (train split doc_id % 5 <> 0, per-lang top-300
      // trigrams by (count desc, gram asc), doc top-64, out-of-place
      // distance with penalty 300, argmin (dist, lang)) — all exact
      // integers, so engine and twin agree bit-for-bit
      s"""WITH $langidCtes
         |SELECT doc_id, lang_label, source, lang_pred, best_dist, margin
         |FROM pred""".stripMargin,
    "text_langid_mix" ->
      // twin of TextAnalysis.langIdMix: the per-doc prediction CTE
      // rolled up per (source, split, predicted lang) with label
      // agreement and within-(source, split) share — split carried so
      // the gate reads holdout rows (train diagonal is fit-inflated)
      s"""WITH $langidCtes
         |SELECT source, split, lang_pred, n_docs, n_label_agree,
         |  round(CAST(n_docs AS DOUBLE)
         |    / sum(n_docs) OVER (PARTITION BY source, split), 6) AS share
         |FROM (SELECT source,
         |    CASE WHEN doc_id % 5 = 0 THEN 'holdout' ELSE 'train' END AS split,
         |    lang_pred, CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(CASE WHEN lang_label = lang_pred THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_label_agree
         |  FROM pred GROUP BY 1, 2, 3)""".stripMargin,
    "text_langid_confusion" ->
      // twin of TextAnalysis.langIdConfusion: the per-doc prediction CTE
      // rolled to <= 2·langs^2 cells (one matrix per split) with
      // within-split row- and column-share windows; the holdout matrix
      // is the model-quality gate
      s"""WITH $langidCtes
         |SELECT split, lang_label, lang_pred, n_docs,
         |  round(CAST(n_docs AS DOUBLE)
         |    / sum(n_docs) OVER (PARTITION BY split, lang_label), 6) AS share_of_label,
         |  round(CAST(n_docs AS DOUBLE)
         |    / sum(n_docs) OVER (PARTITION BY split, lang_pred), 6) AS share_of_pred
         |FROM (SELECT
         |    CASE WHEN doc_id % 5 = 0 THEN 'holdout' ELSE 'train' END AS split,
         |    lang_label, lang_pred, CAST(count(*) AS BIGINT) AS n_docs
         |  FROM pred GROUP BY 1, 2, 3)""".stripMargin,
    "text_vocab_coverage" -> {
      // twin of TextAnalysis.vocabCoverage: token counts -> bounded
      // top-16384 head under the (n desc, tok asc) total order ->
      // per-budget covered sums; identical rounding
      val budgets = Seq(1024, 4096, 16384)
      val rows = budgets.map { v =>
        s"""SELECT CAST($v AS BIGINT) AS vocab_size,
           |  coalesce((SELECT CAST(sum(n) AS BIGINT) FROM hd WHERE rank <= $v), 0) AS covered_tokens,
           |  total_tokens, n_types,
           |  round(CAST(coalesce((SELECT sum(n) FROM hd WHERE rank <= $v), 0) AS DOUBLE)
           |    / total_tokens, 6) AS coverage,
           |  round(CAST(total_tokens - coalesce((SELECT sum(n) FROM hd WHERE rank <= $v), 0) AS DOUBLE)
           |    / total_tokens, 6) AS oov_rate
           |FROM tot""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH tc AS (SELECT tok, count(*) AS n FROM (
         |    SELECT unnest(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS tok
         |    FROM $docs) GROUP BY tok),
         |tot AS (SELECT CAST(sum(n) AS BIGINT) AS total_tokens,
         |  CAST(count(*) AS BIGINT) AS n_types FROM tc),
         |hd AS MATERIALIZED (SELECT tok, n, row_number() OVER (ORDER BY n DESC, tok ASC) AS rank
         |  FROM tc ORDER BY n DESC, tok ASC LIMIT ${budgets.max})
         |$rows""".stripMargin
    },
    "text_source_nb" ->
      // twin of TextAnalysis.sourceNb: the integer micro-nat NB chain —
      // model and scores are exact integers, so the argmax and margins
      // agree bit-for-bit
      s"""WITH ${nbCtes(nbSourceLabeled)}
         |SELECT doc_id, label AS source_label, split, pred AS source_pred,
         |  best_score_micro, margin_micro
         |FROM nbpred""".stripMargin,
    "text_source_nb_confusion" ->
      // twin of TextAnalysis.sourceNbConfusion: nbpred rolled to
      // per-(split, label, pred) cells with within-split shares
      s"""WITH ${nbCtes(nbSourceLabeled)}
         |SELECT split, source_label, source_pred, n_docs,
         |  round(CAST(n_docs AS DOUBLE)
         |    / sum(n_docs) OVER (PARTITION BY split, source_label), 6) AS share_of_label,
         |  round(CAST(n_docs AS DOUBLE)
         |    / sum(n_docs) OVER (PARTITION BY split, source_pred), 6) AS share_of_pred
         |FROM (SELECT split, label AS source_label, pred AS source_pred,
         |    CAST(count(*) AS BIGINT) AS n_docs
         |  FROM nbpred GROUP BY 1, 2, 3)""".stripMargin,
    "text_quality_nb" ->
      // twin of TextAnalysis.qualityNb: the SAME NB chain trained on
      // the per-source quality-MEDIAN gate's pass/fail verdicts (the
      // label CTE re-derives qualityFilterFrom's scored/median
      // expressions verbatim — see nbQualityLabeled — so teacher and
      // gate can never drift)
      s"""WITH ${nbCtes(nbQualityLabeled)}
         |SELECT doc_id, label AS quality_label, split, pred AS quality_pred,
         |  best_score_micro, margin_micro
         |FROM nbpred""".stripMargin,
    "text_quality_nb_confusion" ->
      // twin of TextAnalysis.qualityNbConfusion
      s"""WITH ${nbCtes(nbQualityLabeled)}
         |SELECT split, quality_label, quality_pred, n_docs,
         |  round(CAST(n_docs AS DOUBLE)
         |    / sum(n_docs) OVER (PARTITION BY split, quality_label), 6) AS share_of_label,
         |  round(CAST(n_docs AS DOUBLE)
         |    / sum(n_docs) OVER (PARTITION BY split, quality_pred), 6) AS share_of_pred
         |FROM (SELECT split, label AS quality_label, pred AS quality_pred,
         |    CAST(count(*) AS BIGINT) AS n_docs
         |  FROM nbpred GROUP BY 1, 2, 3)""".stripMargin,
    "text_bpe_merges" ->
      // twin of TextAnalysis.bpeMerges: k chained merge rounds. Round r:
      // adjacent-pair counts over the MATERIALIZED word-type frame
      // w{r-1}, argmax by (cnt desc, a asc, b asc), then the SAME
      // three-replace greedy merge the Spark side applies (double
      // spaces → replace " a  b " → collapse). An empty round (no pair
      // >= minCount) no-ops via the chr(1) coalesce and emits no row —
      // matching the trainer's early stop.
      s"""WITH $bpeCtes
         |${(1 to bpeK).map(r =>
             s"SELECT CAST($r AS BIGINT) AS merge_rank, a AS sym_a, b AS sym_b, " +
             s"a || b AS merged, cnt AS pair_count FROM t$r")
           .mkString("\nUNION ALL\n")}""".stripMargin,
    "text_bpe_compression" ->
      // twin of TextAnalysis.bpeCompression: the same k-round chain,
      // then symbol-occurrence totals before (w0) and after (w{k})
      s"""WITH $bpeCtes
         |SELECT
         |  (SELECT count(*) FROM (${(1 to bpeK).map(r => s"SELECT a FROM t$r")
             .mkString(" UNION ALL ")})) AS n_merges,
         |  (SELECT count(*) FROM w0) AS n_word_types,
         |  (SELECT CAST(sum(n) AS BIGINT) FROM w0) AS n_tokens,
         |  (SELECT CAST(sum(n * len(string_split(trim(s), ' '))) AS BIGINT) FROM w0)
         |    AS base_symbols,
         |  (SELECT CAST(sum(n * len(string_split(trim(s), ' '))) AS BIGINT) FROM w$bpeK)
         |    AS merged_symbols,
         |  round(
         |    (SELECT sum(n * len(string_split(trim(s), ' '))) FROM w$bpeK)::DOUBLE
         |    / (SELECT sum(n * len(string_split(trim(s), ' '))) FROM w0), 6)
         |    AS compression_ratio""".stripMargin,
    "text_bpe_fertility" ->
      // twin of TextAnalysis.bpeFertility: the trainer chain, each
      // token's trained piece count from the final type table, rolled
      // up per source
      s"""WITH $bpeCtes,
         |pieces AS (SELECT tok,
         |  CAST(len(string_split(trim(s), ' ')) AS BIGINT) AS np FROM w$bpeK),
         |st AS (SELECT source, tok, count(*) AS cnt FROM (
         |    SELECT source, unnest(regexp_extract_all(lower(text),
         |      '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS tok FROM $docs)
         |  GROUP BY 1, 2)
         |SELECT source, CAST(sum(cnt) AS BIGINT) AS n_tokens,
         |  CAST(sum(cnt * len(tok)) AS BIGINT) AS n_chars,
         |  CAST(sum(cnt * np) AS BIGINT) AS n_pieces,
         |  round(sum(cnt * np)::DOUBLE / sum(cnt), 6) AS pieces_per_token,
         |  round(sum(cnt * len(tok))::DOUBLE / sum(cnt * np), 6) AS chars_per_piece
         |FROM st JOIN pieces USING (tok) GROUP BY source""".stripMargin,
    "text_bpe_doc_pieces" ->
      // twin of TextAnalysis.bpeDocPieces: the trainer chain, per-doc
      // token explode joined to the final type table's piece counts,
      // completion left join (token-less docs price zero / null ratio)
      s"""WITH $bpeCtes,
         |pieces AS (SELECT tok,
         |  CAST(len(string_split(trim(s), ' ')) AS BIGINT) AS np FROM w$bpeK),
         |dt AS (SELECT doc_id, unnest(regexp_extract_all(lower(text),
         |    '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS tok FROM $docs),
         |ag AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nt,
         |    CAST(sum(np) AS BIGINT) AS npc
         |  FROM dt JOIN pieces USING (tok) GROUP BY 1)
         |SELECT d.doc_id, coalesce(ag.nt, 0) AS n_tokens,
         |  coalesce(ag.npc, 0) AS n_pieces,
         |  CASE WHEN coalesce(ag.nt, 0) > 0
         |    THEN round(ag.npc::DOUBLE / ag.nt, 6) END AS pieces_per_token
         |FROM $docs d LEFT JOIN ag ON ag.doc_id = d.doc_id""".stripMargin,
    "text_model_roundtrip" ->
      // twin of TextAnalysis.modelRoundtrip: the Spark side trains all
      // three router models, PERSISTS them to parquet, loads them back
      // and serves the holdout split through the router kernels; this
      // twin re-derives the identical serve from raw text with no
      // persistence step and no kernels — the three batch CTE chains
      // (langid rank profiles, integer micro-nat NB, the BPE trainer +
      // per-doc pricing) joined per holdout doc. A hash match proves
      // both load-equivalence and kernel-vs-batch parity at once.
      s"""WITH $langidCtes,
         |${nbCtes(nbSourceLabeled)},
         |$bpeCtes,
         |mrpieces AS (SELECT tok,
         |  CAST(len(string_split(trim(s), ' ')) AS BIGINT) AS np FROM w$bpeK),
         |mrdt AS (SELECT doc_id, unnest(regexp_extract_all(lower(text),
         |    '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS tok FROM $docs),
         |mrag AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nt,
         |    CAST(sum(np) AS BIGINT) AS npc
         |  FROM mrdt JOIN mrpieces USING (tok) GROUP BY 1)
         |SELECT d.doc_id, p.lang_pred, p.best_dist, p.margin,
         |  n.pred AS source_pred, n.best_score_micro, n.margin_micro,
         |  coalesce(mrag.nt, 0) AS n_tokens, coalesce(mrag.npc, 0) AS n_pieces,
         |  CASE WHEN coalesce(mrag.nt, 0) > 0
         |    THEN round(mrag.npc::DOUBLE / mrag.nt, 6) END AS pieces_per_token
         |FROM $docs d
         |JOIN pred p ON p.doc_id = d.doc_id
         |JOIN nbpred n ON n.doc_id = d.doc_id
         |LEFT JOIN mrag ON mrag.doc_id = d.doc_id
         |WHERE d.doc_id % 5 = 0""".stripMargin,
    "text_tfidf_top_terms" ->
      s"""WITH t AS (SELECT doc_id, ${toks("lower(text)")} AS tk FROM $docs),
         |nd AS (SELECT count(*)::DOUBLE AS n_docs FROM t),
         |tf AS (SELECT doc_id, len, term, count(*)::DOUBLE AS tf FROM (
         |  SELECT doc_id, len(tk)::DOUBLE AS len, unnest(tk) AS term FROM t)
         |  GROUP BY doc_id, len, term),
         |dfq AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY term),
         |scored AS (SELECT tf.doc_id, tf.term,
         |  round((tf.tf / tf.len) * ln(nd.n_docs / dfq.df), 6) AS tfidf
         |  FROM tf JOIN dfq ON tf.term = dfq.term CROSS JOIN nd)
         |SELECT doc_id, term, tfidf, rnk FROM (
         |  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) AS rnk
         |  FROM scored) WHERE rnk <= 3""".stripMargin,
    "text_hash_split" ->
      s"""SELECT split, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars FROM (
         |  SELECT n_chars,
         |    CASE WHEN b < 8 THEN 'train' WHEN b < 9 THEN 'val' ELSE 'test' END AS split
         |  FROM (SELECT n_chars, ${h60("CAST(doc_id AS VARCHAR)")} % 10 AS b FROM $docs))
         |GROUP BY split""".stripMargin,
    "text_stratified_sample" ->
      // twin of TextAnalysis.stratifiedSample's pinned registration:
      // identical salted hash fraction and rate CASE, so the kept set
      // matches row for row
      s"""SELECT doc_id, source, n_chars FROM (
         |  SELECT doc_id, source, n_chars,
         |    (${h60("concat(CAST(doc_id AS VARCHAR), '#strat')")} % 1000000)::DOUBLE
         |      / 1000000.0 AS frac,
         |    CASE WHEN source = 'src0' THEN 1.0
         |         WHEN source = 'src1' THEN 0.5
         |         WHEN source = 'src2' THEN 0.25
         |         WHEN source = 'src3' THEN 0.0
         |         ELSE 0.1 END AS rate
         |  FROM $docs)
         |WHERE frac < rate""".stripMargin,
    "text_weighted_sample" ->
      // twin of TextAnalysis.weightedSample (priority sampling, k=10 per
      // source): priority = greatest(n_chars,1) / (hash-grid uniform) is
      // one exactly-rounded cast + one exactly-rounded division in BOTH
      // engines — bit-identical doubles, so the top-k SET matches
      s"""SELECT doc_id, source, n_chars, round(priority, 6) AS priority, rk FROM (
         |  SELECT doc_id, source, n_chars, priority,
         |    row_number() OVER (PARTITION BY source
         |      ORDER BY priority DESC, doc_id ASC) AS rk
         |  FROM (
         |    SELECT doc_id, source, n_chars,
         |      greatest(n_chars, 1)::DOUBLE /
         |        ((${h60("concat(CAST(doc_id AS VARCHAR), '#wsample')")} % 1000000) + 1)::DOUBLE
         |        AS priority
         |    FROM $docs))
         |WHERE rk <= 10""".stripMargin,
    "text_fingerprint" ->
      s"""SELECT doc_id, md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS fp
         |FROM $docs""".stripMargin,
    "text_repetition_score" -> {
      // twin of TextAnalysis.repetitionScore. The Spark side's sorted
      // max-run fold == the max multiplicity over distinct bigrams,
      // which is what the list_filter count computes here.
      val tk = toks("lower(text)")
      s"""WITH t AS (SELECT doc_id, $tk AS tk FROM $docs),
         |b AS (SELECT doc_id, tk,
         |  CASE WHEN len(tk) >= 2
         |    THEN list_transform(range(1, len(tk)), j -> concat(tk[j], ' ', tk[j+1]))
         |    ELSE CAST([] AS VARCHAR[]) END AS bg FROM t),
         |m AS (SELECT doc_id, tk, bg,
         |  CASE WHEN len(bg) = 0 THEN 0
         |    ELSE list_max(list_transform(list_distinct(bg), x -> len(list_filter(bg, y -> y = x)))) END AS top_run
         |  FROM b)
         |SELECT doc_id,
         |  round(CASE WHEN len(tk) > 0 THEN 1.0 - len(list_distinct(tk))::DOUBLE / len(tk)::DOUBLE ELSE 0.0 END, 6) AS dup_token_frac,
         |  round(CASE WHEN len(bg) > 0 THEN 1.0 - len(list_distinct(bg))::DOUBLE / len(bg)::DOUBLE ELSE 0.0 END, 6) AS dup_bigram_frac,
         |  round(CASE WHEN len(bg) > 0 THEN top_run::DOUBLE / len(bg)::DOUBLE ELSE 0.0 END, 6) AS top_bigram_frac
         |FROM m""".stripMargin
    },
    "text_token_budget_mix" ->
      // twin of TextAnalysis.tokenBudgetMix: per-source quotas in the
      // same salted-hash order; kept iff tokens BEFORE the doc fit
      s"""WITH d AS (SELECT doc_id, source,
         |  CAST(len(${toks("lower(text)")}) AS BIGINT) AS n_tok,
         |  ${h60("concat(CAST(doc_id AS VARCHAR), '#mix')")} AS hk
         |  FROM $docs),
         |c AS (SELECT source, doc_id, n_tok,
         |  CAST(sum(n_tok) OVER (PARTITION BY source ORDER BY hk ASC, doc_id ASC) AS BIGINT) AS cum
         |  FROM d)
         |SELECT doc_id, source, n_tok, cum FROM c
         |WHERE cum - n_tok < (CASE source
         |  WHEN 'src0' THEN 4000 WHEN 'src1' THEN 2000
         |  WHEN 'src2' THEN 500 WHEN 'src3' THEN 0 ELSE 1000 END)""".stripMargin,
    "text_shard_plan" ->
      // twin of TextAnalysis.shardPlan (target=100000, nBuckets=32):
      // ONE global window over the (bucket, hash, id) total order — the
      // Spark side's two-phase prefix-sum decomposition must reduce to
      // exactly this; integer // matches Spark's div on the
      // non-negative exclusive start offset
      s"""WITH d AS (SELECT doc_id, n_chars,
         |    ${h60("concat(CAST(doc_id AS VARCHAR), '#shard')")} AS hk
         |  FROM $docs),
         |b AS (SELECT doc_id, n_chars, hk, hk % 32 AS bkt FROM d),
         |c AS (SELECT doc_id, n_chars,
         |    CAST(sum(n_chars) OVER (ORDER BY bkt ASC, hk ASC, doc_id ASC
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS gcum
         |  FROM b)
         |SELECT doc_id, n_chars, (gcum - n_chars) // 100000 AS shard FROM c""".stripMargin,
    "text_pack_sequences" ->
      // twin of TextAnalysis.packSequences (budget 256): same salted-hash
      // layout order and first-token fixed-offset binning; the window
      // order key (hk, doc_id) is unique so RANGE/ROWS framing agrees
      s"""WITH d AS (SELECT doc_id, source,
         |  CAST(len(${toks("lower(text)")}) AS BIGINT) AS n_tok,
         |  ${h60("concat(CAST(doc_id AS VARCHAR), '#pack')")} AS hk
         |  FROM $docs),
         |c AS (SELECT source, doc_id, n_tok,
         |  sum(n_tok) OVER (PARTITION BY source ORDER BY hk ASC, doc_id ASC) AS cum
         |  FROM d)
         |SELECT source, CAST(floor((cum - n_tok) / 256.0) AS BIGINT) AS pack_id,
         |  count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS pack_tokens
         |FROM c GROUP BY source, pack_id""".stripMargin,
    "text_redact" -> {
      // twin of TextAnalysis.redact: patterns applied IN ORDER, each
      // count taken on the text as redacted by the earlier patterns
      // (the RE2∩Java regex subset — identical matches in both engines);
      // 'g' flag because Spark's regexp_replace is global by default
      val reEmail = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
      val reDig = "[0-9]{4,}"
      val reTerm = "\\bkey\\b"
      s"""WITH r1 AS (SELECT doc_id,
         |  CAST(len(regexp_extract_all(text, '$reEmail')) AS BIGINT) AS n_email,
         |  regexp_replace(text, '$reEmail', '[EMAIL]', 'g') AS t1 FROM $docs),
         |r2 AS (SELECT doc_id, n_email,
         |  CAST(len(regexp_extract_all(t1, '$reDig')) AS BIGINT) AS n_digits,
         |  regexp_replace(t1, '$reDig', '[NUM]', 'g') AS t2 FROM r1),
         |r3 AS (SELECT doc_id, n_email, n_digits,
         |  CAST(len(regexp_extract_all(t2, '$reTerm')) AS BIGINT) AS n_term,
         |  regexp_replace(t2, '$reTerm', '[TERM]', 'g') AS t3 FROM r2)
         |SELECT doc_id, n_email, n_digits, n_term, md5(t3) AS redacted_md5 FROM r3""".stripMargin
    },
    "text_decontaminate" -> {
      // twin of TextAnalysis.decontaminate (w=3, eval source src19):
      // distinct hashed word 3-shingles per doc; corpus docs joined to
      // the distinct eval shingle set, counted per doc
      val tk = toks("lower(text)")
      s"""WITH t AS (SELECT doc_id, source, $tk AS tk FROM $docs),
         |g AS (SELECT doc_id, source, list_distinct(list_transform(
         |  CASE WHEN len(tk) >= 3
         |    THEN list_transform(range(1, len(tk) - 1), j -> concat_ws(' ', tk[j], tk[j+1], tk[j+2]))
         |    ELSE CAST([] AS VARCHAR[]) END,
         |  x -> ${h60("x")})) AS gh FROM t),
         |eg AS (SELECT DISTINCT unnest(gh) AS g FROM g WHERE source = 'src19'),
         |cg AS (SELECT doc_id, unnest(gh) AS g FROM g WHERE source <> 'src19')
         |SELECT doc_id, count(*) AS n_shared_grams
         |FROM cg JOIN eg USING (g)
         |GROUP BY doc_id""".stripMargin
    },
    "text_common_spans" -> {
      // twin of TextAnalysis.commonSpans (w=5, minDf=3): per-doc DISTINCT
      // word 5-shingle hashes, df = docs containing the shingle, per-doc
      // common-span tallies. sum over ints is HUGEINT in DuckDB → BIGINT
      val tk = toks("lower(text)")
      s"""WITH t AS (SELECT doc_id, $tk AS tk FROM $docs),
         |g AS (SELECT doc_id, list_distinct(list_transform(
         |  CASE WHEN len(tk) >= 5
         |    THEN list_transform(range(1, len(tk) - 3),
         |      j -> concat_ws(' ', tk[j], tk[j+1], tk[j+2], tk[j+3], tk[j+4]))
         |    ELSE CAST([] AS VARCHAR[]) END,
         |  x -> ${h60("x")})) AS gh FROM t),
         |e AS (SELECT doc_id, unnest(gh) AS g FROM g),
         |d AS (SELECT g, count(*) AS df FROM e GROUP BY g)
         |SELECT doc_id, count(*) AS n_shingles,
         |  CAST(sum(CASE WHEN df >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_common,
         |  round(sum(CASE WHEN df >= 3 THEN 1.0 ELSE 0.0 END) / count(*), 6) AS common_frac
         |FROM e JOIN d USING (g)
         |GROUP BY doc_id""".stripMargin
    },
    "text_unigram_logprob" ->
      // twin of TextAnalysis.unigramLogprob: corpus unigram distribution
      // via one grouped explode; avg of -ln(ctf/total) per doc. ln and
      // the double average agree well past the 6-dp round
      s"""WITH t AS (SELECT doc_id, unnest(${toks("lower(text)")}) AS term FROM $docs),
         |c AS (SELECT term, count(*)::DOUBLE AS ctf FROM t GROUP BY term),
         |tot AS (SELECT count(*)::DOUBLE AS total FROM t)
         |SELECT doc_id, count(*) AS n_tokens,
         |  round(avg(-ln(ctf / total)), 6) AS avg_neg_logprob
         |FROM t JOIN c USING (term) CROSS JOIN tot
         |GROUP BY doc_id""".stripMargin,
    "text_source_kl" ->
      // twin of TextAnalysis.sourceKl: per-term (c/Ns)*ln((c/Ns)/(Ct/N))
      // with the SAME op order as Spark, rounded to 12, summed in
      // DECIMAL(38,12) (order-free), KL rounded to 6 — the
      // text_dsir_weights ln-parity discipline
      s"""WITH t AS (SELECT source, unnest(${toks("lower(text)")}) AS term FROM $docs),
         |st AS (SELECT source, term, count(*) AS c FROM t GROUP BY source, term),
         |ct AS (SELECT term, count(*) AS ctf FROM t GROUP BY term),
         |ns AS (SELECT source, count(*) AS ns FROM t GROUP BY source),
         |nn AS (SELECT count(*) AS n FROM t),
         |k AS (SELECT st.source, ns.ns,
         |  CAST(round((CAST(st.c AS DOUBLE) / ns.ns)
         |    * ln((CAST(st.c AS DOUBLE) / ns.ns)
         |      / (CAST(ct.ctf AS DOUBLE) / nn.n)), 12) AS DECIMAL(38,12)) AS k
         |  FROM st JOIN ct USING (term) JOIN ns USING (source) CROSS JOIN nn)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_terms,
         |  CAST(max(ns) AS BIGINT) AS n_tokens,
         |  round(CAST(sum(k) AS DOUBLE), 6) AS kl_divergence
         |FROM k GROUP BY source""".stripMargin,
    "text_dsir_weights" ->
      // twin of TextAnalysis.dsirWeights (nBuckets=1024, target lang
      // 'en'): hashed-unigram bucket counts for target and raw, add-one
      // smoothing with the SAME (count+1)::DOUBLE / (N+1024)::DOUBLE
      // op order as Spark, per-bucket ratio rounded to 12, per-doc
      // DECIMAL(38,12) sum (order-free) rounded to 6
      s"""WITH o AS (SELECT doc_id, lang, ${h60("term")} % 1024 AS b
         |  FROM (SELECT doc_id, lang, unnest(${toks("lower(text)")}) AS term
         |        FROM $docs)),
         |rc AS (SELECT b, count(*) AS cr FROM o GROUP BY b),
         |tc AS (SELECT b, count(*) AS ct FROM o WHERE lang = 'en' GROUP BY b),
         |nr AS (SELECT count(*) AS nr FROM o),
         |nt AS (SELECT count(*) AS nt FROM o WHERE lang = 'en'),
         |lr AS (SELECT rc.b,
         |    round(ln(CAST(coalesce(tc.ct, 0) + 1 AS DOUBLE)
         |        / CAST(nt.nt + 1024 AS DOUBLE))
         |      - ln(CAST(rc.cr + 1 AS DOUBLE)
         |        / CAST(nr.nr + 1024 AS DOUBLE)), 12) AS lr
         |  FROM rc LEFT JOIN tc ON rc.b = tc.b CROSS JOIN nr CROSS JOIN nt)
         |SELECT o.doc_id, count(*) AS n_tokens,
         |  round(CAST(sum(CAST(lr AS DECIMAL(38,12))) AS DOUBLE), 6)
         |    AS dsir_logratio,
         |  round(CAST(sum(CAST(lr AS DECIMAL(38,12))) AS DOUBLE) / count(*), 6)
         |    AS avg_logratio
         |FROM o JOIN lr ON o.b = lr.b
         |GROUP BY o.doc_id""".stripMargin,
    "text_ccnet_buckets" ->
      // twin of TextAnalysis.ccnetBuckets (nBins=256): the
      // text_unigram_logprob chain, per-lang equi-width score bins (the
      // rel_histogram_quantiles bin/guard convention), cumulative over
      // the aggregated histogram, tertile cut bins by double-threshold
      // compare, then INTEGER bin-vs-cut labeling
      s"""WITH t AS (SELECT doc_id, unnest(${toks("lower(text)")}) AS term FROM $docs),
         |c AS (SELECT term, count(*)::DOUBLE AS ctf FROM t GROUP BY term),
         |tot AS (SELECT count(*)::DOUBLE AS total FROM t),
         |u AS (SELECT doc_id, count(*) AS n_tokens,
         |    round(avg(-ln(ctf / total)), 6) AS avg_neg_logprob
         |  FROM t JOIN c USING (term) CROSS JOIN tot GROUP BY doc_id),
         |scored AS (SELECT u.doc_id, d.lang, u.n_tokens, u.avg_neg_logprob
         |  FROM u JOIN $docs d ON u.doc_id = d.doc_id),
         |mm AS (SELECT lang, min(avg_neg_logprob) AS mn,
         |    max(avg_neg_logprob) AS mx FROM scored GROUP BY lang),
         |binned AS (SELECT s.doc_id, s.lang, s.n_tokens, s.avg_neg_logprob,
         |    CASE WHEN mx = mn THEN 0
         |      ELSE least(CAST(floor((s.avg_neg_logprob - mn) / (mx - mn) * 256)
         |        AS BIGINT), 255) END AS bin
         |  FROM scored s JOIN mm ON s.lang = mm.lang),
         |hist AS (SELECT lang, bin, count(*) AS n FROM binned GROUP BY lang, bin),
         |nl AS (SELECT lang, sum(n) AS n_lang FROM hist GROUP BY lang),
         |cum AS (SELECT h.lang, h.bin, nl.n_lang,
         |    sum(h.n) OVER (PARTITION BY h.lang ORDER BY h.bin
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM hist h JOIN nl ON h.lang = nl.lang),
         |cuts AS (SELECT lang,
         |    min(CASE WHEN CAST(cum AS DOUBLE) >= CAST(n_lang AS DOUBLE) / 3.0
         |      THEN bin END) AS b1,
         |    min(CASE WHEN CAST(cum AS DOUBLE) >= CAST(n_lang AS DOUBLE) * 2.0 / 3.0
         |      THEN bin END) AS b2
         |  FROM cum GROUP BY lang)
         |SELECT b.doc_id, b.lang, b.n_tokens, b.avg_neg_logprob, b.bin,
         |  CASE WHEN b.bin < c.b1 THEN 'head'
         |       WHEN b.bin < c.b2 THEN 'middle'
         |       ELSE 'tail' END AS ppl_bucket
         |FROM binned b JOIN cuts c ON b.lang = c.lang""".stripMargin,
    "text_winnow_sketch" ->
      s"""WITH s AS (SELECT doc_id, regexp_replace(lower(text), '[^a-z0-9]', '', 'g') AS sk FROM $docs),
         |g AS (SELECT doc_id, CASE WHEN length(sk) >= 5
         |  THEN list_transform(range(1, length(sk) - 5 + 2), j -> sk[j:j+4])
         |  ELSE CAST([] AS VARCHAR[]) END AS grams FROM s),
         |h AS (SELECT doc_id, list_transform(grams, x -> ${h60("x")}) AS hs FROM g),
         |f AS (SELECT doc_id, list_distinct(CASE WHEN len(hs) >= 4
         |  THEN list_transform(range(1, len(hs) - 4 + 2), j -> list_min(hs[j:j+3]))
         |  ELSE hs END) AS fps FROM h)
         |SELECT doc_id, CAST(len(fps) AS BIGINT) AS n_fingerprints,
         |  list_min(fps) AS min_fp, list_max(fps) AS max_fp
         |FROM f""".stripMargin,
    "text_bm25_topk" ->
      // twin of TextAnalysis.bm25TopK(terms = vector/spark/stream/scan,
      // k1 = 1.2, b = 0.75): Lucene-default idf, per-term parts rounded
      // to 9 then DECIMAL-summed; every fp constant is composed the way
      // Spark's driver computes it (k1+1, 1−b as runtime double ops on
      // CAST literals, never a pre-folded decimal literal)
      s"""WITH t AS (SELECT doc_id, ${toks("lower(text)")} AS tk FROM $docs),
         |lens AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS len FROM t),
         |corpus AS (SELECT count(*) AS n_docs,
         |  CAST(sum(len) AS DOUBLE) / count(*) AS avgdl FROM lens),
         |posting AS (SELECT doc_id, term, count(*) AS tf FROM (
         |    SELECT doc_id, unnest(tk) AS term FROM t)
         |  WHERE term IN ('vector', 'spark', 'stream', 'scan')
         |  GROUP BY doc_id, term),
         |idf AS (SELECT term, ln(CAST(1.0 AS DOUBLE)
         |    + (n_docs - df + CAST(0.5 AS DOUBLE)) / (df + CAST(0.5 AS DOUBLE)))
         |    AS idf
         |  FROM (SELECT term, count(*) AS df FROM posting GROUP BY term)
         |  CROSS JOIN corpus),
         |scored AS (SELECT p.doc_id, count(*) AS n_terms_hit,
         |  round(CAST(sum(CAST(round(
         |    i.idf * (p.tf * (CAST(1.2 AS DOUBLE) + CAST(1.0 AS DOUBLE)))
         |      / (p.tf + CAST(1.2 AS DOUBLE)
         |        * ((CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE))
         |          + CAST(0.75 AS DOUBLE) * l.len / c.avgdl)),
         |    9) AS DECIMAL(27,10))) AS DOUBLE), 6) AS bm25
         |  FROM posting p JOIN idf i USING (term) JOIN lens l USING (doc_id)
         |  CROSS JOIN corpus c
         |  GROUP BY p.doc_id)
         |SELECT doc_id, n_terms_hit, bm25 FROM (
         |  SELECT *, row_number() OVER (ORDER BY bm25 DESC, doc_id ASC) AS rn
         |  FROM scored) WHERE rn <= 10""".stripMargin,
    "text_span_dedup" ->
      // twin of TextAnalysis.spanDedup (w=5): positional 5-shingles via
      // zipped unnests (spos aligned with the shingle list), canonical
      // occurrence = rank 1 under (doc_id, spos) within each span hash,
      // non-canonical spans explode to removed positions, documents
      // rebuilt by ordered string_agg over the surviving tokens
      s"""WITH t AS (SELECT doc_id, ${toks("text")} AS tk FROM $docs),
         |sh AS (SELECT doc_id,
         |  unnest(range(greatest(len(tk) - 4, 0))) AS spos,
         |  unnest(CASE WHEN len(tk) >= 5
         |    THEN list_transform(range(1, len(tk) - 3),
         |      j -> concat_ws(' ', tk[j], tk[j+1], tk[j+2], tk[j+3], tk[j+4]))
         |    ELSE CAST([] AS VARCHAR[]) END) AS s
         |  FROM t),
         |occ AS (SELECT doc_id, spos, ${h60("s")} AS g FROM sh),
         |r AS (SELECT doc_id, spos,
         |  row_number() OVER (PARTITION BY g ORDER BY doc_id ASC, spos ASC) AS rn,
         |  count(*) OVER (PARTITION BY g) AS c
         |  FROM occ),
         |rem AS (SELECT DISTINCT doc_id, pos FROM (
         |  SELECT doc_id, unnest(range(spos, spos + 5)) AS pos
         |  FROM r WHERE c > 1 AND rn > 1)),
         |tok AS (SELECT doc_id, unnest(range(len(tk))) AS pos, unnest(tk) AS tok FROM t),
         |kept AS (SELECT k.doc_id, k.pos, k.tok FROM tok k
         |  LEFT JOIN rem ON k.doc_id = rem.doc_id AND k.pos = rem.pos
         |  WHERE rem.pos IS NULL),
         |reb AS (SELECT doc_id, count(*) AS n_kept,
         |  string_agg(tok, ' ' ORDER BY pos ASC) AS clean_text
         |  FROM kept GROUP BY doc_id)
         |SELECT t.doc_id, CAST(len(tk) AS BIGINT) AS n_tokens,
         |  CAST(len(tk) - coalesce(n_kept, 0) AS BIGINT) AS n_removed,
         |  coalesce(clean_text, '') AS clean_text
         |FROM t LEFT JOIN reb USING (doc_id)""".stripMargin)

  // ---- events -----------------------------------------------------------

  private val events: Map[String, String] = Map(
    "events_itemset_pairs" ->
      // twin of Events.itemsetPairs: baskets = (user, UTC day), pairs
      // via the DISTINCT self-join with type_a < type_b — equivalent to
      // the Spark side's sorted-array i<j explode; lift/support doubles
      // in the Spark plan's operand order
      """WITH d AS (SELECT DISTINCT user_id, date_trunc('day', ts) AS day, event_type
        |    FROM events WHERE user_id IS NOT NULL AND event_type IS NOT NULL),
        |n AS (SELECT count(*) AS n_baskets FROM
        |    (SELECT DISTINCT user_id, day FROM d)),
        |s AS (SELECT event_type, count(*) AS n_single FROM d GROUP BY 1),
        |p AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
        |    CAST(count(*) AS BIGINT) AS n_pair
        |  FROM d a JOIN d b ON a.user_id = b.user_id AND a.day = b.day
        |    AND a.event_type < b.event_type
        |  GROUP BY 1, 2)
        |SELECT type_a, type_b, n_pair,
        |  round(CAST(n_pair AS DOUBLE) / CAST(n_baskets AS DOUBLE), 6) AS support,
        |  round((CAST(n_pair AS DOUBLE) * CAST(n_baskets AS DOUBLE)) /
        |    (CAST(sa.n_single AS DOUBLE) * CAST(sb.n_single AS DOUBLE)), 6) AS lift
        |FROM p JOIN s sa ON sa.event_type = p.type_a
        |  JOIN s sb ON sb.event_type = p.type_b CROSS JOIN n""".stripMargin,
    "events_hourly_agg" ->
      """SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_ts, event_type,
        |  count(*) AS n, round(sum(value), 2) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin,
    "events_session_stats" ->
      // twin of Events.sessionStats (gap 30 min): same (ts, event_id)
      // per-user windows — lag flag then ROWS-cumulative session id —
      // per-(user, session) exact-ms spans, size-grain rollup
      """WITH ev AS (SELECT user_id, event_id, ts, epoch_ms(ts) AS ms
        |  FROM events WHERE user_id IS NOT NULL),
        |f AS (SELECT user_id, event_id, ts, ms,
        |  CASE WHEN lag(ms) OVER w IS NULL OR ms - lag(ms) OVER w > 1800000
        |    THEN 1 ELSE 0 END AS ns
        |  FROM ev WINDOW w AS (PARTITION BY user_id
        |    ORDER BY ts ASC, event_id ASC)),
        |s AS (SELECT user_id, ms, sum(ns) OVER (PARTITION BY user_id
        |    ORDER BY ts ASC, event_id ASC ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM f),
        |g AS (SELECT user_id, sid, count(*) AS n_ev,
        |  max(ms) - min(ms) AS dur FROM s GROUP BY user_id, sid)
        |SELECT n_ev AS events_per_session,
        |  CAST(count(*) AS BIGINT) AS n_sessions,
        |  round(CAST(sum(dur) AS DOUBLE) / count(*), 3) AS mean_duration_ms,
        |  CAST(max(dur) AS BIGINT) AS max_duration_ms
        |FROM g GROUP BY n_ev""".stripMargin,
    "events_ewma_anomaly" ->
      // twin of Events.ewmaAnomaly (lookback=24, decay=0.7,
      // minBaseline=8, topN=20): sparse hourly series, bounded range
      // self-join on [h-24, h-1], weight and weighted term each
      // rounded to 12 and summed in DECIMAL(38,12) (order-free), ewma
      // and deviation rounded to 6, top-20 under the
      // (|deviation| desc, type, hour) total order
      """WITH hc AS (SELECT
        |  CAST(CAST(epoch(date_trunc('hour', ts)) AS BIGINT) / 3600 AS BIGINT) AS h,
        |  event_type, count(*) AS n FROM events
        |  WHERE event_type IS NOT NULL GROUP BY 1, 2),
        |p AS (SELECT event_type, h AS h2, n AS x2 FROM hc),
        |j AS (SELECT hc.event_type, hc.h, hc.n,
        |  CAST(round(pow(0.7, hc.h - p.h2 - 1), 12) AS DECIMAL(38,12)) AS w,
        |  CAST(round(pow(0.7, hc.h - p.h2 - 1) * p.x2, 12) AS DECIMAL(38,12)) AS wx
        |  FROM hc JOIN p ON hc.event_type = p.event_type
        |    AND p.h2 >= hc.h - 24 AND p.h2 < hc.h),
        |a AS (SELECT event_type, h, n, count(*) AS base_n,
        |  sum(w) AS den, sum(wx) AS num FROM j GROUP BY 1, 2, 3),
        |sc AS (SELECT event_type, h * 3600 AS hour_ts, n,
        |  round(CAST(num AS DOUBLE) / CAST(den AS DOUBLE), 6) AS ewma
        |  FROM a WHERE base_n >= 8),
        |d AS (SELECT event_type, hour_ts, n, ewma,
        |  round((n - ewma) / sqrt(ewma + 1.0), 6) AS deviation FROM sc)
        |SELECT event_type, hour_ts, n, ewma, deviation FROM d
        |ORDER BY abs(deviation) DESC, event_type, hour_ts LIMIT 20""".stripMargin,
    "events_interarrival" ->
      // twin of Events.interarrivalStats: integer-ms gaps off the
      // (ts, event_id) total order per type, exact BIGINT gap sum for
      // the mean (one rounded division), nearest-rank-low p50/p90
      // picks (actual gap values — no interpolating percentile kernel)
      """WITH ev AS (SELECT event_type, event_id, epoch_ms(ts) AS ms
        |  FROM events WHERE event_type IS NOT NULL),
        |g AS (SELECT event_type, ms - lag(ms) OVER (
        |    PARTITION BY event_type ORDER BY ms ASC, event_id ASC) AS gap_ms
        |  FROM ev),
        |r AS (SELECT event_type, gap_ms, row_number() OVER (
        |    PARTITION BY event_type ORDER BY gap_ms ASC) AS rn
        |  FROM g WHERE gap_ms IS NOT NULL),
        |c AS (SELECT event_type, count(*) AS n_gaps, sum(gap_ms) AS sum_ms
        |  FROM r GROUP BY event_type)
        |SELECT r.event_type,
        |  CAST(max(c.n_gaps) + 1 AS BIGINT) AS n_events,
        |  CAST(max(c.n_gaps) AS BIGINT) AS n_gaps,
        |  round(CAST(max(c.sum_ms) AS DOUBLE) / max(c.n_gaps), 3) AS mean_gap_ms,
        |  max(CASE WHEN r.rn = floor((c.n_gaps - 1) * 0.5) + 1
        |    THEN r.gap_ms END) AS p50_gap_ms,
        |  max(CASE WHEN r.rn = floor((c.n_gaps - 1) * 0.9) + 1
        |    THEN r.gap_ms END) AS p90_gap_ms
        |FROM r JOIN c USING (event_type) GROUP BY r.event_type""".stripMargin,
    "events_burstiness" ->
      // twin of Events.burstiness: the interarrival gap stream, exact
      // BIGINT Σg and DECIMAL(38,0) Σg², μ/σ and both ratios in DOUBLE
      // in the engine's expression order, variance clamped at 0 before
      // the sqrt
      """WITH ev AS (SELECT event_type, event_id, epoch_ms(ts) AS ms
        |  FROM events WHERE event_type IS NOT NULL),
        |g AS (SELECT event_type, ms - lag(ms) OVER (
        |    PARTITION BY event_type ORDER BY ms ASC, event_id ASC) AS gap_ms
        |  FROM ev),
        |a AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_gaps,
        |    CAST(sum(gap_ms) AS BIGINT) AS sum_g,
        |    sum(CAST(gap_ms AS DECIMAL(19,0)) * CAST(gap_ms AS DECIMAL(19,0))) AS sum_g2
        |  FROM g WHERE gap_ms IS NOT NULL GROUP BY event_type)
        |SELECT event_type, n_gaps,
        |  round(CAST(sum_g AS DOUBLE) / n_gaps, 3) AS mean_gap_ms,
        |  round(sqrt(greatest(CAST(0.0 AS DOUBLE),
        |    CAST(sum_g2 AS DOUBLE) / n_gaps
        |      - (CAST(sum_g AS DOUBLE) / n_gaps) * (CAST(sum_g AS DOUBLE) / n_gaps))), 3)
        |    AS sd_gap_ms,
        |  CASE WHEN sum_g > 0 THEN round(sqrt(greatest(CAST(0.0 AS DOUBLE),
        |    CAST(sum_g2 AS DOUBLE) / n_gaps
        |      - (CAST(sum_g AS DOUBLE) / n_gaps) * (CAST(sum_g AS DOUBLE) / n_gaps)))
        |    / (CAST(sum_g AS DOUBLE) / n_gaps), 6) END AS cv,
        |  CASE WHEN sum_g > 0 THEN round((sqrt(greatest(CAST(0.0 AS DOUBLE),
        |    CAST(sum_g2 AS DOUBLE) / n_gaps
        |      - (CAST(sum_g AS DOUBLE) / n_gaps) * (CAST(sum_g AS DOUBLE) / n_gaps)))
        |      - CAST(sum_g AS DOUBLE) / n_gaps)
        |    / (sqrt(greatest(CAST(0.0 AS DOUBLE),
        |      CAST(sum_g2 AS DOUBLE) / n_gaps
        |        - (CAST(sum_g AS DOUBLE) / n_gaps) * (CAST(sum_g AS DOUBLE) / n_gaps)))
        |      + CAST(sum_g AS DOUBLE) / n_gaps), 6) END AS burstiness
        |FROM a""".stripMargin,
    "events_periodicity" ->
      // twin of Events.periodicity (lagHours=24): densified hourly grid
      // via generate_series, lag-24 self-join, five exact integer moment
      // sums, the mean/sqrt Pearson in DOUBLE + round(6) (the
      // graph_assortativity moments discipline); zero variance decided
      // on exact HUGEINT products (Spark: DECIMAL(38,0)) -> 0.0
      """WITH hc AS (SELECT
        |  CAST(CAST(epoch(date_trunc('hour', ts)) AS BIGINT) / 3600 AS BIGINT) AS h,
        |  event_type, count(*) AS n FROM events
        |  WHERE event_type IS NOT NULL GROUP BY 1, 2),
        |r AS (SELECT min(h) AS h0, max(h) AS h1 FROM hc),
        |grid AS (SELECT t.event_type, g.h
        |  FROM (SELECT DISTINCT event_type FROM hc) t CROSS JOIN
        |  (SELECT unnest(generate_series(h0, h1)) AS h FROM r) g),
        |ser AS (SELECT g.event_type, g.h, coalesce(hc.n, 0) AS x
        |  FROM grid g LEFT JOIN hc ON hc.event_type = g.event_type AND hc.h = g.h),
        |lagd AS (SELECT event_type, h + 24 AS h, x AS y FROM ser),
        |s AS (SELECT ser.event_type, CAST(count(*) AS BIGINT) AS np,
        |  CAST(sum(ser.x * l.y) AS BIGINT) AS sxy,
        |  CAST(sum(ser.x) AS BIGINT) AS sx, CAST(sum(l.y) AS BIGINT) AS sy,
        |  CAST(sum(ser.x * ser.x) AS BIGINT) AS sx2,
        |  CAST(sum(l.y * l.y) AS BIGINT) AS sy2
        |  FROM ser JOIN lagd l ON l.event_type = ser.event_type AND l.h = ser.h
        |  GROUP BY ser.event_type)
        |SELECT event_type, np AS n_pairs, CAST(24 AS BIGINT) AS lag_hours,
        |  CASE WHEN CAST(np AS HUGEINT) * sx2 = CAST(sx AS HUGEINT) * sx
        |      OR CAST(np AS HUGEINT) * sy2 = CAST(sy AS HUGEINT) * sy
        |    THEN 0.0
        |    ELSE round((CAST(sxy AS DOUBLE) / np
        |        - (CAST(sx AS DOUBLE) / np) * (CAST(sy AS DOUBLE) / np))
        |      / (sqrt(CAST(sx2 AS DOUBLE) / np
        |          - (CAST(sx AS DOUBLE) / np) * (CAST(sx AS DOUBLE) / np))
        |        * sqrt(CAST(sy2 AS DOUBLE) / np
        |          - (CAST(sy AS DOUBLE) / np) * (CAST(sy AS DOUBLE) / np))), 6)
        |  END AS autocorr
        |FROM s""".stripMargin,
    "events_sessionize" ->
      """WITH x AS (
        |  SELECT user_id, epoch_ms(ts) AS ms,
        |    lag(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS prev_ms
        |  FROM events)
        |SELECT user_id,
        |  CAST(sum(CASE WHEN prev_ms IS NULL OR ms - prev_ms > 1800000 THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
        |  count(*) AS n_events
        |FROM x GROUP BY user_id""".stripMargin,
    "events_top_type_per_user" ->
      """SELECT user_id, event_type, n FROM (
        |  SELECT user_id, event_type, count(*) AS n,
        |    row_number() OVER (PARTITION BY user_id ORDER BY count(*) DESC, event_type ASC) AS rnk
        |  FROM events GROUP BY user_id, event_type) WHERE rnk = 1""".stripMargin,
    "events_zorder_scan" ->
      // twin of Events.zorderScan — the result is LAYOUT-INDEPENDENT
      // (z-ordering only changes which files hold which rows), so the
      // twin reads the flat table. Day-boundary predicates are immune
      // to the ns→µs truncation: floor can never move a value across a
      // whole-second boundary from below
      """SELECT event_type, count(*) AS n, round(sum(value), 2) AS sum_value
        |FROM events
        |WHERE user_id BETWEEN 100 AND 130
        |  AND ts >= TIMESTAMP '2024-01-10' AND ts < TIMESTAMP '2024-01-17'
        |GROUP BY event_type""".stripMargin,
    "events_partitioned_daily" ->
      // reads THROUGH the hive-partitioned layout graft.sources.Layout
      // materializes (Verify runs the Spark side first); ts was truncated
      // to µs at layout-write time so both engines see identical values
      s"""SELECT strftime(CAST(event_date AS DATE), '%Y-%m-%d') AS event_date, event_type,
        |  count(*) AS n, round(sum(value), 2) AS sum_value
        |FROM read_parquet('$layoutBase/events_by_date/*/*.parquet',
        |                  hive_partitioning=1)
        |WHERE CAST(event_date AS DATE) BETWEEN DATE '2024-01-08' AND DATE '2024-01-14'
        |GROUP BY 1, 2""".stripMargin,
    "events_asof_join" ->
      // DuckDB's native ASOF JOIN is the oracle for the Spark
      // union-and-carry composition; right side pre-reduced per
      // (user, ms) so equal-ms ties are deterministic in both engines
      """WITH l AS (SELECT user_id, event_id, epoch_ms(ts) AS ms
        |  FROM events WHERE event_type = 'click'),
        |r AS (SELECT user_id, epoch_ms(ts) AS ms, max(value) AS r_value
        |  FROM events WHERE event_type = 'view' GROUP BY 1, 2)
        |SELECT l.user_id, l.event_id, l.ms, r.ms AS view_ms,
        |  round(r.r_value, 2) AS view_value
        |FROM l ASOF JOIN r ON l.user_id = r.user_id AND l.ms >= r.ms""".stripMargin,
    "events_asof_tolerance" ->
      // tolerance = post-filter of the unique ASOF match: the pair is
      // kept iff the MOST RECENT right row is within the window — the
      // same semantics the Spark side implements on the carried match
      """WITH l AS (SELECT user_id, event_id, epoch_ms(ts) AS ms
        |  FROM events WHERE event_type = 'click'),
        |r AS (SELECT user_id, epoch_ms(ts) AS ms, max(value) AS r_value
        |  FROM events WHERE event_type = 'view' GROUP BY 1, 2)
        |SELECT l.user_id, l.event_id, l.ms, r.ms AS view_ms,
        |  round(r.r_value, 2) AS view_value
        |FROM l ASOF JOIN r ON l.user_id = r.user_id AND l.ms >= r.ms
        |WHERE l.ms - r.ms <= 3600000""".stripMargin,
    "events_asof_forward" ->
      // forward direction: DuckDB ASOF with <= picks the EARLIEST right
      // row at-or-after each left row
      """WITH l AS (SELECT user_id, event_id, epoch_ms(ts) AS ms
        |  FROM events WHERE event_type = 'click'),
        |r AS (SELECT user_id, epoch_ms(ts) AS ms, max(value) AS r_value
        |  FROM events WHERE event_type = 'view' GROUP BY 1, 2)
        |SELECT l.user_id, l.event_id, l.ms, r.ms AS view_ms,
        |  round(r.r_value, 2) AS view_value
        |FROM l ASOF JOIN r ON l.user_id = r.user_id AND l.ms <= r.ms""".stripMargin,
    "events_range_join" ->
      // the oracle states the raw range predicate; the Spark side's
      // bucketing is an exact cover of it, so results are identical
      """SELECT l.user_id, l.event_id, epoch_ms(l.ts) AS ms, count(*) AS n_prior
        |FROM events l JOIN events r ON l.user_id = r.user_id
        |  AND r.event_type = 'click'
        |  AND epoch_ms(r.ts) >= epoch_ms(l.ts) - 300000
        |  AND epoch_ms(r.ts) < epoch_ms(l.ts)
        |WHERE l.event_type = 'error'
        |GROUP BY 1, 2, 3""".stripMargin,
    "events_attribution" ->
      // twin of Events.attribution (purchase <- view/click/signup,
      // 6h lookback, linear credit): the raw range predicate (the Spark
      // side's 2-bucket probe is an exact cover); credit = value/n via
      // a per-conversion count window; round-2 sums absorb order ULPs
      """WITH conv AS (SELECT event_id AS conv_id, user_id,
        |    epoch_ms(ts) AS ms, value FROM events
        |  WHERE event_type = 'purchase'),
        |paired AS (SELECT c.conv_id, c.value, t.event_type AS touch_type
        |  FROM conv c JOIN events t ON c.user_id = t.user_id
        |    AND t.event_type IN ('view', 'click', 'signup')
        |    AND epoch_ms(t.ts) >= c.ms - 21600000
        |    AND epoch_ms(t.ts) < c.ms),
        |credited AS (SELECT conv_id, touch_type,
        |    value / (count(*) OVER (PARTITION BY conv_id)) AS credit
        |  FROM paired)
        |SELECT touch_type, count(*) AS n_touches,
        |  count(DISTINCT conv_id) AS n_conversions,
        |  round(sum(credit), 2) AS attributed_value
        |FROM credited GROUP BY touch_type
        |UNION ALL
        |SELECT 'direct' AS touch_type, 0 AS n_touches,
        |  count(*) AS n_conversions, round(sum(value), 2) AS attributed_value
        |FROM conv WHERE conv_id NOT IN (SELECT conv_id FROM paired)
        |HAVING count(*) > 0""".stripMargin,
    "events_funnel" ->
      // twin of Events.funnel (view→click→purchase): stage k = users
      // with a stage-k event at-or-after (>=, simultaneous counts) their
      // earliest stage-(k-1) completion — stated as the same chain of
      // filtered min-aggregates
      """WITH ev AS (SELECT user_id, event_type, epoch_ms(ts) AS ms FROM events
        |  WHERE user_id IS NOT NULL),
        |s1 AS (SELECT user_id, min(ms) AS stage_ms FROM ev
        |  WHERE event_type = 'view' GROUP BY user_id),
        |s2 AS (SELECT ev.user_id, min(ev.ms) AS stage_ms FROM ev
        |  JOIN s1 ON ev.user_id = s1.user_id
        |  WHERE ev.event_type = 'click' AND ev.ms >= s1.stage_ms GROUP BY ev.user_id),
        |s3 AS (SELECT ev.user_id, min(ev.ms) AS stage_ms FROM ev
        |  JOIN s2 ON ev.user_id = s2.user_id
        |  WHERE ev.event_type = 'purchase' AND ev.ms >= s2.stage_ms GROUP BY ev.user_id)
        |SELECT CAST(1 AS BIGINT) AS stage, 'view' AS event_type, count(*) AS n_users FROM s1
        |UNION ALL SELECT CAST(2 AS BIGINT), 'click', count(*) FROM s2
        |UNION ALL SELECT CAST(3 AS BIGINT), 'purchase', count(*) FROM s3""".stripMargin,
    "events_cohort_retention" ->
      // twin of Events.cohortRetention (weekly periods): first-activity
      // period per user = the cohort; distinct active users per
      // (cohort, offset). Same floor-division (exact for |ms|/period
      // << 2^52), same null-user filter as the Spark side
      """WITH ev AS (SELECT user_id,
        |    CAST(floor(epoch_ms(ts) / 604800000.0) AS BIGINT) AS p
        |  FROM events WHERE user_id IS NOT NULL),
        |f AS (SELECT user_id, min(p) AS cohort FROM ev GROUP BY user_id)
        |SELECT f.cohort, ev.p - f.cohort AS offset,
        |  count(DISTINCT ev.user_id) AS n_users
        |FROM ev JOIN f ON ev.user_id = f.user_id
        |GROUP BY 1, 2""".stripMargin,
    "events_path_transitions" ->
      // twin of Events.pathTransitions: consecutive same-user event
      // pairs ordered by (epoch-ms, event_id) — ms, not raw ts, so the
      // ns-vs-µs storage difference can never reorder a tie
      """WITH e AS (SELECT user_id, event_id, event_type, epoch_ms(ts) AS ms
        |  FROM events WHERE user_id IS NOT NULL),
        |x AS (SELECT user_id, event_type,
        |  lead(event_type) OVER (PARTITION BY user_id ORDER BY ms ASC, event_id ASC) AS next_type
        |  FROM e)
        |SELECT event_type AS from_type, next_type AS to_type,
        |  count(*) AS n, count(DISTINCT user_id) AS n_users
        |FROM x WHERE next_type IS NOT NULL
        |GROUP BY 1, 2""".stripMargin,
    "events_markov_stationary" -> {
      // twin of Events.markovStationary (iters=6): the transition CTE,
      // row-normalized P (round 8), π ← πP with round-12 DECIMAL
      // products and an L1 renormalizer per step; MATERIALIZED iterates
      // for the graph_kcore reason
      val iters = (1 to 6).map { i =>
        s"""c$i AS (SELECT p.to_type, CAST(round(r.pi * p.p, 12) AS DECIMAL(38,12)) AS c
           |  FROM p JOIN pi${i - 1} r ON p.from_type = r.state),
           |s$i AS (SELECT to_type, sum(c) AS sc FROM c$i GROUP BY 1),
           |t$i AS (SELECT sum(sc) AS tot FROM s$i),
           |pi$i AS MATERIALIZED (SELECT st.state,
           |  round(coalesce(CAST(s.sc AS DOUBLE), CAST(0 AS DOUBLE))
           |    / CAST(t.tot AS DOUBLE), 8) AS pi
           |  FROM st LEFT JOIN s$i s ON s.to_type = st.state CROSS JOIN t$i t)""".stripMargin
      }.mkString(",\n")
      s"""WITH e AS (SELECT user_id, event_id, event_type, epoch_ms(ts) AS ms
         |  FROM events WHERE user_id IS NOT NULL),
         |x AS (SELECT user_id, event_type,
         |  lead(event_type) OVER (PARTITION BY user_id ORDER BY ms ASC, event_id ASC) AS next_type
         |  FROM e),
         |tr AS MATERIALIZED (SELECT event_type AS from_type, next_type AS to_type,
         |  count(*) AS n FROM x WHERE next_type IS NOT NULL GROUP BY 1, 2),
         |rt AS (SELECT from_type, sum(n) AS tot FROM tr GROUP BY 1),
         |p AS MATERIALIZED (SELECT tr.from_type, tr.to_type,
         |  round(CAST(tr.n AS DOUBLE) / rt.tot, 8) AS p
         |  FROM tr JOIN rt USING (from_type)),
         |st AS MATERIALIZED (SELECT DISTINCT state FROM (
         |  SELECT from_type AS state FROM p
         |  UNION ALL SELECT to_type AS state FROM p)),
         |k AS (SELECT count(*) AS k FROM st),
         |pi0 AS MATERIALIZED (SELECT state,
         |  round(CAST(1.0 AS DOUBLE) / k.k, 8) AS pi FROM st CROSS JOIN k),
         |$iters,
         |g AS (SELECT sum(n) AS g FROM tr)
         |SELECT st.state AS event_type, pi6.pi AS stationary_p,
         |  CAST(coalesce(rt.tot, 0) AS BIGINT) AS n_out_transitions,
         |  round(coalesce(CAST(rt.tot AS DOUBLE), CAST(0 AS DOUBLE))
         |    / CAST(g.g AS DOUBLE), 8) AS empirical_from_share
         |FROM st JOIN pi6 ON pi6.state = st.state
         |LEFT JOIN rt ON rt.from_type = st.state CROSS JOIN g""".stripMargin
    },
    "events_top_paths" ->
      // twin of Events.topPaths (steps=3, topN=20): two leads over the
      // same (ms, event_id) per-user order, full windows only, count +
      // reach per path string, top-20 under the (n desc, path asc)
      // total order
      """WITH e AS (SELECT user_id, event_id, event_type, epoch_ms(ts) AS ms
        |  FROM events WHERE user_id IS NOT NULL),
        |x AS (SELECT user_id, event_type,
        |  lead(event_type, 1) OVER w AS t1,
        |  lead(event_type, 2) OVER w AS t2
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ms ASC, event_id ASC))
        |SELECT concat_ws(' > ', event_type, t1, t2) AS path,
        |  count(*) AS n, count(DISTINCT user_id) AS n_users
        |FROM x WHERE t1 IS NOT NULL AND t2 IS NOT NULL
        |GROUP BY 1
        |ORDER BY n DESC, path ASC LIMIT 20""".stripMargin,
    "events_changepoint" ->
      // twin of Events.changepointCusum: deviations scaled by the
      // series length keep the CUSUM an exact integer cumsum; argmax
      // |S| with the earlier-hour tie-break; last hour excluded (S_T=0)
      """WITH h AS (SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_ts,
        |    event_type, CAST(count(*) AS BIGINT) AS n
        |  FROM events WHERE event_type IS NOT NULL GROUP BY 1, 2),
        |sc AS (SELECT event_type, hour_ts, n,
        |    CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS t_hours,
        |    CAST(sum(n) OVER (PARTITION BY event_type) AS BIGINT) AS total,
        |    CAST(row_number() OVER w AS BIGINT) AS pos,
        |    CAST(sum(n) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS cum_n
        |  FROM h WINDOW w AS (PARTITION BY event_type ORDER BY hour_ts ASC)),
        |s2 AS (SELECT *,
        |    CAST(cum_n * t_hours - pos * total AS BIGINT) AS s_scaled
        |  FROM sc WHERE t_hours >= 2 AND pos < t_hours),
        |rk AS (SELECT *, row_number() OVER (PARTITION BY event_type
        |    ORDER BY abs(s_scaled) DESC, hour_ts ASC) AS rk FROM s2)
        |SELECT event_type, hour_ts AS cp_hour_ts, t_hours,
        |  abs(s_scaled) AS s_abs_scaled,
        |  round(CAST(cum_n AS DOUBLE) / CAST(pos AS DOUBLE), 4) AS mean_before,
        |  round(CAST(total - cum_n AS DOUBLE) / CAST(t_hours - pos AS DOUBLE), 4)
        |    AS mean_after
        |FROM rk WHERE rk = 1""".stripMargin,
    "events_anomaly_zscore" ->
      // twin of Events.anomalyZscore (24h trailing baseline, minBaseline
      // 8): same hour grain, same strictly-preceding frame; integer
      // counts keep the variance bounded away from 0, so the 4-dp
      // rounded z is engine-stable
      """WITH h AS (SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_ts,
        |    event_type, count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |b AS (SELECT event_type, hour_ts, n,
        |  count(*) OVER w AS base_n,
        |  avg(n) OVER w AS base_avg,
        |  stddev_samp(n) OVER w AS base_std
        |  FROM h
        |  WINDOW w AS (PARTITION BY event_type ORDER BY hour_ts ASC
        |    ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING))
        |SELECT event_type, hour_ts, n, round((n - base_avg) / base_std, 4) AS z
        |FROM b WHERE base_n >= 8 AND base_std > 0""".stripMargin,
    "events_sliding_agg" ->
      // twin of Events.slidingAgg (3h window, 1h hop, epoch-aligned):
      // the windows containing an event are starts {H-2h, H-1h, H} for
      // H = the event's hour — stated as a bounded 3-way fan-out
      """SELECT window_ts, event_type, count(*) AS n,
        |  round(sum(value), 2) AS sum_value
        |FROM (SELECT event_type, value,
        |    CAST(epoch(date_trunc('hour', ts)) AS BIGINT) - 3600 * k AS window_ts
        |  FROM events CROSS JOIN (SELECT unnest(range(0, 3)) AS k) hops)
        |GROUP BY 1, 2""".stripMargin,
    "events_rfm" -> {
      // twin of Events.rfm: exact-cents monetary, quantile_cont
      // boundaries (== Spark's interpolated percentile), boundary
      // bucketing with the same strict > comparisons
      def bucket(v: String, bs: String) =
        (1 to 4).map(i => s"(CASE WHEN $v > $bs[$i] THEN 1 ELSE 0 END)")
          .mkString("(", " + ", " + 1)")
      s"""WITH ev AS (SELECT user_id, epoch_ms(ts) AS ms,
         |    CAST(round(value * 100) AS BIGINT) AS cents
         |  FROM events WHERE event_type = 'purchase' AND user_id IS NOT NULL),
         |mx AS (SELECT max(ms) AS corpus_max_ms FROM ev),
         |pu AS (SELECT user_id, max(ms) AS last_ms, count(*) AS freq,
         |    CAST(sum(cents) AS BIGINT) AS cents
         |  FROM ev GROUP BY user_id),
         |pr AS (SELECT user_id, freq, cents,
         |    CAST(floor((mx.corpus_max_ms - last_ms) / 86400000.0) AS BIGINT) AS recency_days
         |  FROM pu CROSS JOIN mx),
         |b AS (SELECT
         |    quantile_cont(recency_days, [0.2, 0.4, 0.6, 0.8]) AS rb,
         |    quantile_cont(freq, [0.2, 0.4, 0.6, 0.8]) AS fb,
         |    quantile_cont(cents, [0.2, 0.4, 0.6, 0.8]) AS mb
         |  FROM pr)
         |SELECT r_bucket, f_bucket, m_bucket, count(*) AS n_users,
         |  round(sum(cents) / 100.0, 2) AS total_monetary
         |FROM (SELECT cents,
         |    CAST(6 - ${bucket("recency_days", "rb")} AS BIGINT) AS r_bucket,
         |    CAST(${bucket("freq", "fb")} AS BIGINT) AS f_bucket,
         |    CAST(${bucket("cents", "mb")} AS BIGINT) AS m_bucket
         |  FROM pr CROSS JOIN b)
         |GROUP BY r_bucket, f_bucket, m_bucket""".stripMargin
    },
    "events_props_extract" ->
      """SELECT event_type, count(k) AS n_with_k, round(avg(k), 4) AS avg_k FROM (
        |  SELECT event_type, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k FROM events)
        |GROUP BY event_type""".stripMargin)

  // ---- dedup ------------------------------------------------------------

  /** 16 MinHash columns + 4 band hashes, mirrored from Dedup.minhashBands
    * (universal-hash permutations over the shared 31-bit base hash). */
  private def minhashSigCte: String = {
    import graft.functions.EngineNeutral.{MinhashPrime => P, minhashA, minhashB}
    val mhCols = (0 until 16).map { i =>
      s"list_min(list_transform(hb, x -> (x*${minhashA(i)} + ${minhashB(i)}) % $P)) AS mh$i"
    }.mkString(",\n  ")
    s"""ws AS (SELECT doc_id, ${wordSet("text")} AS w,
       |  list_transform(${wordSet("text")}, t -> ${h60("t")} % $P) AS hb FROM $docs
       |  WHERE len(${wordSet("text")}) > 0),
       |sig AS (SELECT doc_id,
       |  $mhCols
       |FROM ws),
       |bands AS (${(0 until 4).map { b =>
         val cols = (0 until 4).map(r => s"CAST(mh${b * 4 + r} AS VARCHAR)").mkString(", ")
         s"SELECT doc_id, CAST($b AS BIGINT) AS band_id, md5(concat_ws('|', $cols)) AS band_hash FROM sig"
       }.mkString("\n  UNION ALL ")})""".stripMargin
  }

  /** Shared Cavnar–Trenkle langid CTE chain — twin of
    * TextAnalysis.langIdNgram's model + scoring. `pred` holds one row
    * per document: (doc_id, lang_label, source, lang_pred, best_dist,
    * margin). Languages come from the built profile (a language whose
    * training docs are all sub-trigram has no profile on either side);
    * docs with no trigrams get 'und' + null dist/margin on both sides. */
  private def langidCtes: String =
    s"""trn AS (SELECT lang, lower(text) AS t FROM $docs
       |  WHERE doc_id % 5 <> 0 AND lang IS NOT NULL),
       |tg AS (SELECT lang, unnest(list_transform(range(1, len(t)-1),
       |  i -> substr(t, CAST(i AS INT), 3))) AS gram FROM trn),
       |lp AS (SELECT lang, gram, count(*) AS n FROM tg GROUP BY 1, 2),
       |lpr AS MATERIALIZED (SELECT lang, gram, CAST(row_number() OVER (
       |    PARTITION BY lang ORDER BY n DESC, gram ASC) AS INT) AS rnk
       |  FROM lp QUALIFY rnk <= 300),
       |langs AS (SELECT DISTINCT lang FROM lpr),
       |dg AS (SELECT doc_id, unnest(list_transform(range(1, len(lower(text))-1),
       |  i -> substr(lower(text), CAST(i AS INT), 3))) AS gram FROM $docs),
       |dc AS (SELECT doc_id, gram, count(*) AS n FROM dg GROUP BY 1, 2),
       |dpr AS MATERIALIZED (SELECT doc_id, gram, CAST(row_number() OVER (
       |    PARTITION BY doc_id ORDER BY n DESC, gram ASC) AS INT) AS rnk
       |  FROM dc QUALIFY rnk <= 64),
       |dist AS (SELECT d.doc_id, l.lang,
       |    CAST(sum(coalesce(abs(d.rnk - p.rnk), 300)) AS BIGINT) AS dist
       |  FROM dpr d CROSS JOIN langs l
       |  LEFT JOIN lpr p ON p.lang = l.lang AND p.gram = d.gram
       |  GROUP BY 1, 2),
       |rankedl AS (SELECT doc_id, lang, dist, row_number() OVER (
       |    PARTITION BY doc_id ORDER BY dist ASC, lang ASC) AS r FROM dist),
       |pred AS (SELECT doc.doc_id, doc.lang AS lang_label, doc.source,
       |    coalesce(b1.lang, 'und') AS lang_pred, b1.dist AS best_dist,
       |    b2.dist - b1.dist AS margin
       |  FROM $docs doc
       |  LEFT JOIN (SELECT * FROM rankedl WHERE r = 1) b1 ON b1.doc_id = doc.doc_id
       |  LEFT JOIN (SELECT * FROM rankedl WHERE r = 2) b2 ON b2.doc_id = doc.doc_id)""".stripMargin

  // def, not val: the query maps that reference this are vals that may
  // initialize earlier in the class body (a val here would read as 0)
  private def bpeK: Int = graft.operators.TextAnalysis.BpeK

  /** Shared BPE trainer CTE chain — twin of TextAnalysis.bpeMergesFrom.
    * w0 = the word-type frame (canonical space-fenced char-split symbol
    * string + count); then per round r: p{r} adjacent-pair counts,
    * t{r} the (cnt desc, a asc, b asc) argmax (MATERIALIZED, probed by
    * both the merge application and the output union), w{r} the merged
    * frame via the SAME double-space/replace/collapse greedy merge the
    * Spark side applies. chr(1) coalesce makes an empty round a no-op. */
  private def bpeCtes: String = {
    val w0 =
      s"""w0 AS MATERIALIZED (SELECT tok,
         |  ' ' || array_to_string(regexp_extract_all(tok, '.'), ' ') || ' ' AS s,
         |  count(*) AS n FROM (SELECT unnest(regexp_extract_all(lower(text),
         |    '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS tok FROM $docs) GROUP BY 1)""".stripMargin
    val rounds = (1 to bpeK).map { r =>
      s"""p$r AS (SELECT u.a AS a, u.b AS b, CAST(sum(n) AS BIGINT) AS cnt FROM (
         |    SELECT n, unnest(list_transform(range(1, len(l)),
         |      i -> struct_pack(a := l[i], b := l[i+1]))) AS u
         |    FROM (SELECT n, string_split(trim(s), ' ') AS l FROM w${r - 1}))
         |  GROUP BY 1, 2),
         |t$r AS MATERIALIZED (SELECT a, b, cnt FROM p$r WHERE cnt >= 2
         |  ORDER BY cnt DESC, a ASC, b ASC LIMIT 1),
         |w$r AS MATERIALIZED (SELECT tok, replace(replace(replace(s, ' ', '  '),
         |    coalesce((SELECT ' ' || a || '  ' || b || ' ' FROM t$r), chr(1)),
         |    coalesce((SELECT ' ' || a || b || ' ' FROM t$r), chr(1))),
         |  '  ', ' ') AS s, n FROM w${r - 1})""".stripMargin
    }
    (w0 +: rounds).mkString(",\n")
  }

  /** Gopher feature select over $docs (ratios rounded to 6 BEFORE
    * threshold compares; replace() mirrors the literal-'#'
    * regexp_replace, string_split(chr(10)) the '\n' split) — used by
    * the gopher-rules twin. (The quality-NB teacher is NOT this gate:
    * its labels come from the per-source quality-median verdict — see
    * nbQualityLabeled.) `extraCols` are carried verbatim. */
  private def gopherFeaturesSql(extraCols: String): String = {
    val tk = toks("lower(text)")
    val nW = s"CAST(len($tk) AS BIGINT)"
    val meanLen = s"round(CASE WHEN $nW > 0 THEN " +
      s"list_sum(list_transform($tk, t -> length(t)))::DOUBLE / $nW::DOUBLE " +
      "ELSE CAST(0 AS DOUBLE) END, 6)"
    val nHash = "(length(text) - length(replace(text, '#', '')))::DOUBLE"
    val nEll = s"len(regexp_extract_all(text, '\\.\\.\\.|…'))::DOUBLE"
    val symR = s"round(CASE WHEN $nW > 0 THEN greatest($nHash, $nEll) / $nW::DOUBLE " +
      "ELSE CAST(0 AS DOUBLE) END, 6)"
    val lines = "string_split(text, chr(10))"
    val nLines = s"len($lines)::DOUBLE"
    val bullet = s"round(len(list_filter($lines, " +
      s"l -> regexp_matches(l, '^\\s*[-•*]')))::DOUBLE / $nLines, 6)"
    val ellLine = s"round(len(list_filter($lines, " +
      s"l -> regexp_matches(l, '(\\.\\.\\.|…)\\s*$$')))::DOUBLE / $nLines, 6)"
    val alpha = s"round(CASE WHEN $nW > 0 THEN len(list_filter($tk, " +
      s"t -> regexp_matches(t, '[A-Za-z]')))::DOUBLE / $nW::DOUBLE " +
      "ELSE CAST(0 AS DOUBLE) END, 6)"
    val stopKinds = s"CAST(len(list_distinct(list_filter($tk, t -> t IN " +
      "('the','be','to','of','and','that','have','with')))) AS BIGINT)"
    s"""SELECT doc_id, $extraCols, $nW AS n_words,
       |  $meanLen AS mean_word_len, $symR AS symbol_ratio,
       |  $bullet AS bullet_frac, $ellLine AS ellipsis_line_frac,
       |  $alpha AS alpha_word_frac, $stopKinds AS n_stop_kinds
       |FROM $docs""".stripMargin
  }

  /** The Gopher composite pass predicate over the feature columns. */
  private def gopherPassSql: String =
    """n_words >= 50 AND n_words <= 100000
      |    AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
      |    AND symbol_ratio <= 0.1 AND bullet_frac <= 0.9
      |    AND ellipsis_line_frac <= 0.3 AND alpha_word_frac >= 0.8
      |    AND n_stop_kinds >= 2""".stripMargin

  /** Shared Naive-Bayes CTE chain — twin of TextAnalysis.sourceNbFrom.
    * The model quantizes each log-likelihood ONCE to integer micro-nats
    * (round(1e6·(ln(ntc+1) − ln(ncl+V)))), so every per-doc score is an
    * exact, order-independent integer sum on both engines; `nbpred`
    * ends the chain with one row per document. */
  private def nbCtes(labeledSql: String): String = {
    val tokRe = "'[a-z]+|[0-9]+|[^a-z0-9\\s]'"
    s"""nbl AS MATERIALIZED ($labeledSql),
       |nbtrn AS (SELECT doc_id, label, text FROM nbl WHERE doc_id % 5 <> 0),
       |nbtt AS (SELECT label, unnest(regexp_extract_all(lower(text), $tokRe)) AS tok FROM nbtrn),
       |nbvoc AS MATERIALIZED (SELECT tok FROM (
       |    SELECT tok, count(*) AS vn FROM nbtt GROUP BY 1)
       |  ORDER BY vn DESC, tok ASC LIMIT $nbVocabK),
       |nbvs AS (SELECT count(*) AS v FROM nbvoc),
       |nbpri AS (SELECT label AS cls, count(*) AS ndc FROM nbtrn GROUP BY 1),
       |nbn AS (SELECT CAST(sum(ndc) AS BIGINT) AS n_train FROM nbpri),
       |nbntc AS MATERIALIZED (SELECT label AS cls, tok, count(*) AS ntc
       |  FROM nbtt JOIN nbvoc USING (tok) GROUP BY 1, 2),
       |nbncl AS (SELECT cls, CAST(sum(ntc) AS BIGINT) AS ncl FROM nbntc GROUP BY 1),
       |nbdtc AS (SELECT doc_id, tok, count(*) AS cnt FROM (
       |    SELECT doc_id, unnest(regexp_extract_all(lower(text), $tokRe)) AS tok FROM nbl)
       |  JOIN nbvoc USING (tok) GROUP BY 1, 2),
       |nbts AS (SELECT d.doc_id, m.cls,
       |    CAST(sum(d.cnt * CAST(round((ln(coalesce(t.ntc, 0) + 1)
       |      - ln(m.ncl + vs.v)) * 1000000, 0) AS BIGINT)) AS BIGINT) AS ts
       |  FROM nbdtc d CROSS JOIN nbncl m CROSS JOIN nbvs vs
       |  LEFT JOIN nbntc t ON t.cls = m.cls AND t.tok = d.tok
       |  GROUP BY 1, 2),
       |nbsc AS (SELECT doc.doc_id, doc.label, p.cls,
       |    CAST(round((ln(p.ndc::DOUBLE) - ln(n.n_train::DOUBLE)) * 1000000, 0) AS BIGINT)
       |      + coalesce(t.ts, 0) AS score_micro
       |  FROM nbl doc CROSS JOIN nbpri p CROSS JOIN nbn n
       |  LEFT JOIN nbts t ON t.doc_id = doc.doc_id AND t.cls = p.cls),
       |nbrk AS (SELECT *, row_number() OVER (
       |    PARTITION BY doc_id ORDER BY score_micro DESC, cls ASC) AS r FROM nbsc),
       |nbpred AS (SELECT b1.doc_id, b1.label,
       |    CASE WHEN b1.doc_id % 5 = 0 THEN 'holdout' ELSE 'train' END AS split,
       |    b1.cls AS pred, b1.score_micro AS best_score_micro,
       |    b1.score_micro - b2.score_micro AS margin_micro
       |  FROM (SELECT * FROM nbrk WHERE r = 1) b1
       |  LEFT JOIN (SELECT * FROM nbrk WHERE r = 2) b2 ON b2.doc_id = b1.doc_id)""".stripMargin
  }

  /** Labeled-docs SQL for the two NB instances. */
  private def nbSourceLabeled: String =
    s"SELECT doc_id, text, source AS label FROM $docs"
  private def nbQualityLabeled: String =
    // the median quality gate's keep/cut verdict as the label — the
    // text_quality_filter twin's scored/median expressions verbatim,
    // unfiltered so every doc is labeled
    s"""SELECT doc_id, text,
       |  CASE WHEN quality >= median_q THEN 'pass' ELSE 'fail' END AS label
       |FROM (SELECT doc_id, text, quality,
       |    round(quantile_cont(quality, 0.5) OVER (PARTITION BY source), 6) AS median_q
       |  FROM (SELECT doc_id, text, source, round($qualitySql, 6) AS quality
       |    FROM $docs))""".stripMargin

  private def nbVocabK: Int = graft.operators.TextAnalysis.NbVocabK

  /** 48-term SimHash sum, mirrored from Dedup.simhashCol. */
  private def simhashCte: String = {
    val terms = (0 until 48).map { b =>
      s"(CASE WHEN 2*len(list_filter(hs, v -> ((v >> $b) & 1) = 1)) >= len(hs) THEN CAST(${1L << b} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
    }.mkString(" + ")
    s"""t AS (SELECT doc_id, list_transform(${toks("lower(text)")}, x -> ${h60("x")}) AS hs FROM $docs),
       |sig AS (SELECT doc_id, CAST($terms AS BIGINT) AS simhash FROM t)""".stripMargin
  }

  /** Shared KMV sketch CTE — twin of Dedup.kmvSketchFrom: per source,
    * the k smallest DISTINCT content hashes (hash60 of the lowercased
    * alphanumeric skeleton), ranked ascending. The Spark side's
    * two-phase bucket window is a pure shuffle-bounding rewrite of this
    * single window: min-k of min-k-per-bucket == min-k. */
  private def kmvSketchCte(k: Int): String =
    s"""d AS (SELECT DISTINCT source,
       |  ${h60("regexp_replace(lower(text), '[^a-z0-9]', '', 'g')")} AS h FROM $docs),
       |sk AS (SELECT source, CAST(rk AS BIGINT) AS rk, h FROM (
       |  SELECT source, h, row_number() OVER (PARTITION BY source ORDER BY h) AS rk
       |  FROM d) WHERE rk <= $k)""".stripMargin

  /** KMV estimator over an aggregated sketch (aliases n / max_h) — twin
    * of Dedup.kmvEst: exact when the sketch is not full, else
    * (k-1)*2^60/h_(k); 63.0 * 2^60 and the division are exactly-rounded
    * double ops in both engines. */
  private def kmvEstSql(k: Int): String =
    s"CASE WHEN n < $k THEN n::DOUBLE " +
      s"ELSE ${(k - 1).toDouble} * 1152921504606846976.0 / max_h::DOUBLE END"

  /** Raw HLL estimate expression over (s_scaled) — twin of Dedup.hllEstFrom:
    * alpha_256 · m² · 2^53 / S with every operator in the Spark plan's
    * left-associated order, so the doubles agree bit-for-bit. */
  private val hllRawSql: String =
    "(0.7213 / (1.0 + 1.079 / 256.0)) * 65536.0 * 9007199254740992.0" +
      " / CAST(s_scaled AS DOUBLE)"

  private val dedup: Map[String, String] = Map(
    "dedup_hll_distinct" ->
      // twin of Dedup.hllDistinct: deterministic HLL registers off the
      // shared hash60 fingerprint (top 8 bits → register, rank = leading
      // zeros of the 52-bit remainder + 1 via the minimal bin()
      // rendering both engines share); harmonic denominator carried as
      // the exact integer Σ 2^(53−mj) (+ 2^53 per empty register);
      // raw-vs-linear-counting branch as in Flajolet et al. AofA'07
      s"""WITH f AS (SELECT source,
         |    ${h60("regexp_replace(lower(text), '[^a-z0-9]', '', 'g')")} AS h FROM $docs),
         |r AS (SELECT source, h >> 52 AS reg,
         |    CASE WHEN (h & 4503599627370495) = 0 THEN 53
         |         ELSE 53 - length(bin(h & 4503599627370495)) END AS rho FROM f),
         |bysrc AS (SELECT source, reg, CAST(max(rho) AS BIGINT) AS mj
         |  FROM r GROUP BY 1, 2),
         |regs AS (SELECT * FROM bysrc UNION ALL
         |  SELECT 'ALL' AS source, reg, max(mj) AS mj FROM bysrc GROUP BY reg),
         |g AS (SELECT source, CAST(count(*) AS BIGINT) AS n_regs,
         |    CAST(sum(1::BIGINT << CAST(53 - mj AS INTEGER)) AS BIGINT) AS s_present
         |  FROM regs GROUP BY source),
         |sc AS (SELECT source, 256 - n_regs AS n_zero_regs,
         |    s_present + (256 - n_regs) * 9007199254740992 AS s_scaled FROM g),
         |est AS (SELECT source, n_zero_regs, s_scaled,
         |    round(CASE WHEN $hllRawSql <= 640.0 AND n_zero_regs > 0
         |      THEN 256.0 * ln(256.0 / CAST(n_zero_regs AS DOUBLE))
         |      ELSE $hllRawSql END, 4) AS est_hll FROM sc),
         |ex AS (SELECT source, count(DISTINCT h) AS n_exact FROM f GROUP BY source
         |  UNION ALL SELECT 'ALL', count(DISTINCT h) FROM f)
         |SELECT est.source, n_zero_regs, s_scaled, est_hll, n_exact,
         |  round(abs(est_hll - CAST(n_exact AS DOUBLE))
         |    / CAST(n_exact AS DOUBLE), 4) AS err_rel
         |FROM est JOIN ex ON est.source = ex.source""".stripMargin,
    "dedup_tfidf_cosine_pairs" -> {
      // twin of Dedup.tfidfCosinePairs (threshold 0.85): same 6-dp
      // DECIMAL(15,6) weights (squares/dot products are exact 12-dp
      // decimal sums — partial-agg order can't move them), same
      // rarity-order prefix filter with the same eps-loose double
      // bound, same single terminal double divide per pair
      val thrSql = 0.85.toString
      val t2e = (0.85 * 0.85 - 1e-9).toString
      val thrEps = (0.85 - 1e-9).toString
      s"""WITH tok AS (SELECT doc_id, ${h60("t")} AS th,
         |    CAST(count(*) AS BIGINT) AS tf
         |  FROM (SELECT doc_id, unnest(${toks("lower(text)")}) AS t FROM $docs)
         |  GROUP BY 1, 2),
         |dfq AS (SELECT th, CAST(count(*) AS BIGINT) AS df FROM tok GROUP BY th),
         |nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM tok),
         |wts AS (SELECT * FROM (
         |  SELECT doc_id, tok.th, df,
         |    CAST(round(CAST(tf AS DOUBLE)
         |      * ln(CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE)), 6)
         |      AS DECIMAL(15,6)) AS dw
         |  FROM tok JOIN dfq ON dfq.th = tok.th CROSS JOIN nd) WHERE dw > 0),
         |wsq AS (SELECT doc_id, th, df, dw, dw * dw AS dsq FROM wts),
         |norms AS (SELECT doc_id, sum(dsq) AS n2 FROM wsq GROUP BY doc_id),
         |preb AS (SELECT wsq.th, wsq.doc_id, n2,
         |    coalesce(sum(dsq) OVER (PARTITION BY wsq.doc_id
         |      ORDER BY df ASC, th ASC
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bef
         |  FROM wsq JOIN norms ON norms.doc_id = wsq.doc_id),
         |pre AS (SELECT th, doc_id, rel_suf FROM (
         |  SELECT th, doc_id,
         |    CAST(n2 - bef AS DOUBLE) / CAST(n2 AS DOUBLE) AS rel_suf
         |  FROM preb) WHERE rel_suf >= $t2e),
         |cand AS (SELECT DISTINCT p.doc_id AS doc_a, q.doc_id AS doc_b
         |  FROM pre p JOIN pre q ON q.th = p.th AND p.doc_id < q.doc_id
         |    AND sqrt(p.rel_suf) * sqrt(q.rel_suf) >= $thrEps),
         |num AS (SELECT doc_a, doc_b, sum(a.dw * b.dw) AS dot
         |  FROM cand JOIN wsq a ON a.doc_id = cand.doc_a
         |  JOIN wsq b ON b.doc_id = cand.doc_b AND b.th = a.th
         |  GROUP BY 1, 2)
         |SELECT doc_a, doc_b,
         |  round(CAST(dot AS DOUBLE) / (sqrt(CAST(na.n2 AS DOUBLE))
         |    * sqrt(CAST(nb.n2 AS DOUBLE))), 6) AS cosine
         |FROM num JOIN norms na ON na.doc_id = num.doc_a
         |  JOIN norms nb ON nb.doc_id = num.doc_b
         |WHERE CAST(dot AS DOUBLE) / (sqrt(CAST(na.n2 AS DOUBLE))
         |  * sqrt(CAST(nb.n2 AS DOUBLE))) >= $thrSql""".stripMargin
    },
    "dedup_kmv_distinct" ->
      // twin of Dedup.kmvDistinct (k=64): distinct-content estimate per
      // source from the k-minimum-values sketch
      s"""WITH ${kmvSketchCte(64)},
         |agg AS (SELECT source, count(*) AS n, max(h) AS max_h FROM sk GROUP BY source)
         |SELECT source, n AS n_sketch,
         |  round(${kmvEstSql(64)}, 2) AS est_distinct
         |FROM agg""".stripMargin,
    "dedup_kmv_overlap" ->
      // twin of Dedup.kmvOverlap (k=64): merged-sketch union/Jaccard/
      // intersection estimates per source pair (Beyer et al. SIGMOD'07
      // §4 — k smallest of a sketch union is a sketch of the set union)
      s"""WITH ${kmvSketchCte(64)},
         |srcs AS (SELECT DISTINCT source FROM sk),
         |pairs AS (SELECT a.source AS source_a, b.source AS source_b
         |  FROM srcs a JOIN srcs b ON a.source < b.source),
         |tagged AS (SELECT p.source_a, p.source_b, s.h,
         |    max(CASE WHEN s.source = p.source_a THEN 1 ELSE 0 END) AS in_a,
         |    max(CASE WHEN s.source = p.source_b THEN 1 ELSE 0 END) AS in_b
         |  FROM pairs p JOIN sk s ON s.source = p.source_a OR s.source = p.source_b
         |  GROUP BY 1, 2, 3),
         |l AS (SELECT * FROM (SELECT *, row_number() OVER (
         |    PARTITION BY source_a, source_b ORDER BY h) AS rk FROM tagged)
         |  WHERE rk <= 64),
         |agg AS (SELECT source_a, source_b, count(*) AS n, max(h) AS max_h,
         |    CAST(sum(in_a * in_b) AS BIGINT) AS n_both
         |  FROM l GROUP BY 1, 2)
         |SELECT source_a, source_b, n AS n_union_sketch,
         |  round(n_both::DOUBLE / n::DOUBLE, 6) AS jaccard_est,
         |  round(${kmvEstSql(64)}, 2) AS union_est,
         |  round((n_both::DOUBLE / n::DOUBLE) * (${kmvEstSql(64)}), 2) AS inter_est
         |FROM agg""".stripMargin,
    "corpus_jsonl_dedup" ->
      // the hive-partitioned JSONL layout written by graft.sources.Layout
      s"""SELECT source, md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS fp,
        |  min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM read_json('$layoutBase/documents_jsonl/*/*.json',
        |  format='newline_delimited', hive_partitioning=1,
        |  columns={'doc_id':'BIGINT','text':'VARCHAR','lang':'VARCHAR','n_chars':'BIGINT'})
        |WHERE source IN ('src3','src7','src11')
        |GROUP BY source, fp""".stripMargin,
    "layout_compaction_plan" ->
      // twin of Layout.compactionPlan (targetRows=100): file identity
      // from read_json's filename column (rows-bearing files only, same
      // blindness as input_file_name on the Spark side); integer ceil
      // via // exactly as Spark's div
      s"""SELECT source,
         |  CAST(count(DISTINCT filename) AS BIGINT) AS n_files,
         |  count(*) AS n_rows,
         |  greatest((count(*) + 99) // 100, 1) AS target_files,
         |  CASE
         |    WHEN CAST(count(DISTINCT filename) AS BIGINT)
         |      > greatest((count(*) + 99) // 100, 1) THEN 'coalesce'
         |    WHEN CAST(count(DISTINCT filename) AS BIGINT)
         |      < greatest((count(*) + 99) // 100, 1) THEN 'split'
         |    ELSE 'keep' END AS action
         |FROM read_json('$layoutBase/documents_jsonl/*/*.json',
         |  format='newline_delimited', hive_partitioning=1, filename=true,
         |  columns={'doc_id':'BIGINT','text':'VARCHAR','lang':'VARCHAR','n_chars':'BIGINT'})
         |GROUP BY source""".stripMargin,
    "layout_skipping_stats" ->
      // twin of Layout.skippingStats (nHashFiles=64, offsets 5/10/15):
      // same map-side file assignments (day index vs md5 coin), same
      // zone-map min/max per (layout, file), same single-day predicate
      // pricing; day = cohort-discipline floor(epoch-ms / 86400000.0)
      s"""WITH ev AS (SELECT event_id,
         |  CAST(floor(epoch_ms(ts) / 86400000.0) AS BIGINT) AS day FROM events),
         |asg AS (
         |  SELECT 'day_partitioned' AS layout, day AS file_id, day FROM ev
         |  UNION ALL
         |  SELECT 'hash_partitioned' AS layout,
         |    ${h60("CAST(event_id AS VARCHAR)")} % 64 AS file_id, day FROM ev),
         |zones AS (SELECT layout, file_id, min(day) AS min_day,
         |  max(day) AS max_day, count(*) AS n_rows FROM asg GROUP BY 1, 2),
         |preds AS (SELECT d0 + o AS pred_day
         |  FROM (SELECT min(day) AS d0 FROM ev)
         |  CROSS JOIN (SELECT unnest([5, 10, 15]) AS o))
         |SELECT layout, pred_day, count(*) AS n_files,
         |  CAST(sum(CASE WHEN max_day < pred_day OR min_day > pred_day
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_skipped,
         |  CAST(sum(CASE WHEN max_day < pred_day OR min_day > pred_day
         |    THEN 0 ELSE n_rows END) AS BIGINT) AS n_rows_scanned,
         |  round(CAST(sum(CASE WHEN max_day < pred_day OR min_day > pred_day
         |    THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS skip_frac
         |FROM zones CROSS JOIN preds
         |GROUP BY layout, pred_day""".stripMargin,
    "dedup_exact" ->
      s"""SELECT md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS fp,
         |  min(doc_id) AS keep_id, count(*) AS n_copies
         |FROM $docs GROUP BY 1""".stripMargin,
    "dedup_rate_by_source" ->
      // twin of Dedup.rateBySource: integer counts divided once in
      // double, so the rate is bit-identical
      s"""WITH g AS (SELECT source, md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS fp,
         |  count(*) AS n FROM $docs GROUP BY source, fp)
         |SELECT source, CAST(sum(n) AS BIGINT) AS n_docs,
         |  count(*) AS n_distinct,
         |  round((CAST(sum(n) AS BIGINT) - count(*))::DOUBLE / CAST(sum(n) AS BIGINT), 6) AS dup_rate
         |FROM g GROUP BY source""".stripMargin,
    "dedup_minhash_signatures" ->
      s"""WITH $minhashSigCte
         |SELECT doc_id, band_id, band_hash FROM bands""".stripMargin,
    "dedup_minhash_lsh_pairs" ->
      s"""WITH $minhashSigCte,
         |cand AS (SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
         |  FROM bands l JOIN bands r
         |  ON l.band_id = r.band_id AND l.band_hash = r.band_hash AND l.doc_id < r.doc_id),
         |j AS (SELECT doc_a, doc_b, ${jac("wa.hb", "wb.hb")} AS jacc
         |  FROM cand JOIN ws wa ON wa.doc_id = doc_a JOIN ws wb ON wb.doc_id = doc_b)
         |SELECT doc_a, doc_b, round(jacc, 6) AS jaccard FROM j WHERE jacc >= 0.9""".stripMargin,
    "dedup_lsh_append" ->
      // twin of Dedup.lshIndexAppend(batchMod=8): the full LSH pair
      // twin restricted to pairs with at least one NEW endpoint
      // (hash60(doc_id) % 8 == 0) — incrementality is a cost contract,
      // not a result change, so the oracle is the filtered full join
      s"""WITH $minhashSigCte,
         |cand AS (SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
         |  FROM bands l JOIN bands r
         |  ON l.band_id = r.band_id AND l.band_hash = r.band_hash AND l.doc_id < r.doc_id),
         |j AS (SELECT doc_a, doc_b, ${jac("wa.hb", "wb.hb")} AS jacc
         |  FROM cand JOIN ws wa ON wa.doc_id = doc_a JOIN ws wb ON wb.doc_id = doc_b)
         |SELECT doc_a, doc_b, round(jacc, 6) AS jaccard FROM j
         |WHERE jacc >= 0.9
         |  AND (${h60("CAST(doc_a AS VARCHAR)")} % 8 = 0
         |    OR ${h60("CAST(doc_b AS VARCHAR)")} % 8 = 0)""".stripMargin,
    "dedup_index_roundtrip" ->
      // twin of Dedup.lshIndexRoundtrip(batchMod=8): the Spark side
      // PERSISTS the standing band index to parquet, loads it back and
      // probes the batch against the LOADED artifact; the output
      // contract is lshIndexAppend's verbatim (incrementality AND
      // persistence are cost contracts, not result changes), so the
      // twin is the append twin — re-derived from raw text with no
      // write/load step at all. A hash match is the load-equivalence
      // proof: parquet round-tripped BIGINT[] band keys and token-hash
      // sets probe bit-identically to the in-plan build.
      s"""WITH $minhashSigCte,
         |cand AS (SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
         |  FROM bands l JOIN bands r
         |  ON l.band_id = r.band_id AND l.band_hash = r.band_hash AND l.doc_id < r.doc_id),
         |j AS (SELECT doc_a, doc_b, ${jac("wa.hb", "wb.hb")} AS jacc
         |  FROM cand JOIN ws wa ON wa.doc_id = doc_a JOIN ws wb ON wb.doc_id = doc_b)
         |SELECT doc_a, doc_b, round(jacc, 6) AS jaccard FROM j
         |WHERE jacc >= 0.9
         |  AND (${h60("CAST(doc_a AS VARCHAR)")} % 8 = 0
         |    OR ${h60("CAST(doc_b AS VARCHAR)")} % 8 = 0)""".stripMargin,
    "dedup_minhash_calibration" -> {
      // twin of Dedup.minhashCalibration: the LSH pair twin joined back
      // to the 16-column signature CTE on both endpoints; est_sim = the
      // agreeing-permutation fraction
      val agree = (0 until 16).map(i =>
        s"(CASE WHEN sa.mh$i = sb.mh$i THEN 1 ELSE 0 END)").mkString(" + ")
      s"""WITH $minhashSigCte,
         |cand AS (SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
         |  FROM bands l JOIN bands r
         |  ON l.band_id = r.band_id AND l.band_hash = r.band_hash AND l.doc_id < r.doc_id),
         |j AS (SELECT doc_a, doc_b, ${jac("wa.hb", "wb.hb")} AS jacc
         |  FROM cand JOIN ws wa ON wa.doc_id = doc_a JOIN ws wb ON wb.doc_id = doc_b),
         |p AS (SELECT doc_a, doc_b, round(jacc, 6) AS jaccard FROM j WHERE jacc >= 0.9)
         |SELECT doc_a, doc_b, jaccard,
         |  round(($agree) / 16.0, 6) AS est_sim
         |FROM p JOIN sig sa ON sa.doc_id = doc_a
         |       JOIN sig sb ON sb.doc_id = doc_b""".stripMargin
    },
    "dedup_cross_source_matrix" ->
      // twin of Dedup.crossSourceMatrix — chains the LSH-pairs twin,
      // resolves each endpoint's source, canonicalizes the pair
      s"""WITH $minhashSigCte,
         |cand AS (SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
         |  FROM bands l JOIN bands r
         |  ON l.band_id = r.band_id AND l.band_hash = r.band_hash AND l.doc_id < r.doc_id),
         |j AS (SELECT doc_a, doc_b, ${jac("wa.hb", "wb.hb")} AS jacc
         |  FROM cand JOIN ws wa ON wa.doc_id = doc_a JOIN ws wb ON wb.doc_id = doc_b),
         |p AS (SELECT doc_a, doc_b FROM j WHERE jacc >= 0.9)
         |SELECT least(da.source, db.source) AS source_a,
         |  greatest(da.source, db.source) AS source_b,
         |  count(*) AS n_pairs
         |FROM p JOIN $docs da ON da.doc_id = p.doc_a
         |       JOIN $docs db ON db.doc_id = p.doc_b
         |GROUP BY 1, 2""".stripMargin,
    "dedup_weighted_jaccard" ->
      // twin of Dedup.weightedJaccardPairs (setThreshold=0.7): the LSH
      // pair chain verified at 0.7, re-scored with weighted (multiset)
      // Jaccard via the occurrence-indexed expansion — hash60(tok#o<i>)
      // per occurrence, then plain set Jaccard of the expanded sets
      // (min/max of integer counts decompose per occurrence)
      s"""WITH $minhashSigCte,
         |cand AS (SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
         |  FROM bands l JOIN bands r
         |  ON l.band_id = r.band_id AND l.band_hash = r.band_hash AND l.doc_id < r.doc_id),
         |j AS (SELECT doc_a, doc_b, ${jac("wa.hb", "wb.hb")} AS jacc
         |  FROM cand JOIN ws wa ON wa.doc_id = doc_a JOIN ws wb ON wb.doc_id = doc_b),
         |p AS (SELECT doc_a, doc_b, round(jacc, 6) AS jaccard FROM j WHERE jacc >= 0.7),
         |tf AS (SELECT doc_id, tok, count(*) AS c FROM (
         |  SELECT doc_id, unnest(${toks("text")}) AS tok FROM $docs) GROUP BY 1, 2),
         |ex AS (SELECT doc_id, ${h60("concat(tok, '#o', CAST(i AS VARCHAR))")} AS eh
         |  FROM (SELECT doc_id, tok, unnest(range(c)) AS i FROM tf)),
         |whb AS (SELECT doc_id, list_sort(list(DISTINCT eh)) AS wh FROM ex GROUP BY doc_id)
         |SELECT p.doc_a, p.doc_b, p.jaccard,
         |  round(${jac("wa.wh", "wb.wh")}, 6) AS w_jaccard
         |FROM p JOIN whb wa ON wa.doc_id = p.doc_a
         |       JOIN whb wb ON wb.doc_id = p.doc_b""".stripMargin,
    "dedup_editdist_pairs" ->
      // twin of Dedup.editDistancePairs (maxDist=3): distinct-collapse
      // then length-banded levenshtein verify. The Spark side's
      // 3-bucket expansion is an exact-complete rewrite of the plain
      // |len diff| <= maxDist predicate, so the twin states the
      // predicate directly
      s"""WITH n AS (SELECT p_name AS name, count(*) AS n_rows,
         |  CAST(length(p_name) AS BIGINT) AS len FROM part GROUP BY 1)
         |SELECT a.name AS name_a, b.name AS name_b,
         |  CAST(levenshtein(a.name, b.name) AS BIGINT) AS dist,
         |  a.n_rows AS n_a, b.n_rows AS n_b
         |FROM n a JOIN n b ON a.name < b.name AND abs(a.len - b.len) <= 3
         |WHERE levenshtein(a.name, b.name) <= 3""".stripMargin,
    "dedup_editdist_passjoin" ->
      // twin of Dedup.editDistancePassJoin (maxDist=3): PassJoin's
      // pigeonhole segment blocking is an exactness-preserving
      // candidate generator (every within-distance pair shares a
      // displaced verbatim segment; short names go through the exact
      // band arm), so the twin is the SAME brute-force predicate as
      // dedup_editdist_pairs — identical output by design, also pinned
      // engine-side by the equality property in DedupSimilaritySpec
      s"""WITH n AS (SELECT p_name AS name, count(*) AS n_rows,
         |  CAST(length(p_name) AS BIGINT) AS len FROM part GROUP BY 1)
         |SELECT a.name AS name_a, b.name AS name_b,
         |  CAST(levenshtein(a.name, b.name) AS BIGINT) AS dist,
         |  a.n_rows AS n_a, b.n_rows AS n_b
         |FROM n a JOIN n b ON a.name < b.name AND abs(a.len - b.len) <= 3
         |WHERE levenshtein(a.name, b.name) <= 3""".stripMargin,
    "dedup_simhash_signatures" ->
      s"""WITH $simhashCte
         |SELECT doc_id, simhash FROM sig""".stripMargin,
    "dedup_simhash_pairs" ->
      // the Spark side's 6-block pigeonhole banding is exact for
      // hamming <= 5, so the oracle can use the closed-form all-pairs
      s"""WITH $simhashCte
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
         |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= 5""".stripMargin,
    "dedup_ngram_jaccard_pairs" -> {
      // PREFIX-FILTERED oracle (exactness-preserving, like the Spark
      // side's PPJoin): under ANY fixed total order on tokens, a pair
      // with Jaccard >= t MUST share a token within each side's first
      // |x| - ceil(t|x|) + 1 tokens — so candidates come from an
      // equi-join on exploded prefix tokens and only candidates pay the
      // exact list_intersect verify. The order is the canonical PPJoin
      // one, ASCENDING DOCUMENT FREQUENCY (tok tiebreak): rare tokens
      // land in prefixes, so the candidate join stays near the true
      // pair volume on a self-similar corpus (a hash-order prefix puts
      // corpus-wide shingles in every prefix and re-explodes
      // quadratically — measured >35 min at sf0.1; this form runs the
      // sweep). Candidates are further cut ~3x by the exact PPJoin
      // LENGTH filter (J <= min/max, so min >= ceil(t*max)) and
      // POSITIONAL filter (for a shared prefix token at ranks (i, j),
      // overlap <= 1 + min(|A|-i, |B|-j); a qualifying pair needs
      // overlap >= t/(1+t)*(|A|+|B|), and its FIRST shared token
      // attains the bound, so max-over-matches keeps a superset). The
      // 1e-9 slack makes float boundary cases err toward keeping
      // candidates — never dropping a true pair. Same final set as the
      // former all-pairs formulation (validated at the gate scale).
      // Shingles are hashed (mirroring
      // the Spark side) so set ops run on BIGINT lists; collisions hit
      // both engines identically. n must match the SparkEntry
      // registration.
      val n = 5
      val grams =
        s"list_distinct(CASE WHEN length(sk) >= $n THEN list_transform(range(1, length(sk) - $n + 2), j -> sk[j:j+${n - 1}]) ELSE CAST([] AS VARCHAR[]) END)"
      s"""WITH s AS (SELECT doc_id, regexp_replace(lower(text), '[^a-z0-9]', '', 'g') AS sk FROM $docs),
         |g AS (SELECT doc_id, list_distinct(list_transform($grams, x -> ${h60("x")})) AS gh FROM s),
         |tok AS (SELECT doc_id, unnest(gh) AS tok, len(gh) AS n_tok FROM g),
         |df AS (SELECT tok, count(*) AS df FROM tok GROUP BY tok),
         |pre AS (SELECT doc_id, tok, rnk, n_tok FROM (
         |  SELECT t.doc_id, t.tok, t.n_tok,
         |    row_number() OVER (PARTITION BY t.doc_id
         |      ORDER BY df.df ASC, t.tok ASC) AS rnk
         |  FROM tok t JOIN df ON df.tok = t.tok)
         |  WHERE rnk <= n_tok - CAST(ceil(0.6 * n_tok) AS BIGINT) + 1),
         |cand AS (SELECT doc_a, doc_b FROM (
         |  SELECT l.doc_id AS doc_a, r.doc_id AS doc_b,
         |    max(least(l.n_tok - l.rnk, r.n_tok - r.rnk) + 1) AS ub,
         |    max(ceil(0.6 * (l.n_tok + r.n_tok) / 1.6 - 1e-9)) AS need
         |  FROM pre l JOIN pre r ON l.tok = r.tok AND l.doc_id < r.doc_id
         |  WHERE least(l.n_tok, r.n_tok) >= ceil(0.6 * greatest(l.n_tok, r.n_tok) - 1e-9)
         |  GROUP BY 1, 2)
         |  WHERE ub >= need),
         |p AS (SELECT doc_a, doc_b, ${jac("a.gh", "b.gh")} AS jacc
         |  FROM cand JOIN g a ON a.doc_id = doc_a JOIN g b ON b.doc_id = doc_b)
         |SELECT doc_a, doc_b, round(jacc, 6) AS jaccard FROM p WHERE jacc >= 0.6""".stripMargin
    },
    "dedup_containment_pairs" -> {
      // twin of Dedup.containmentPairs (t=0.8, w=3): the
      // dedup_ngram_jaccard_pairs prefix-filter shape with the
      // asymmetric containment bound — only the probe (contained) side
      // is prefix-cut, the container side indexes every shingle; exact
      // list_intersect verify restores exactness after the 1e-9-loose
      // pruning bounds
      val sh =
        s"CASE WHEN len(tk) >= 3 THEN list_transform(range(1, len(tk) - 1), j -> concat_ws(' ', tk[j], tk[j+1], tk[j+2])) ELSE CAST([] AS VARCHAR[]) END"
      s"""WITH t AS (SELECT doc_id, ${toks("lower(text)")} AS tk FROM $docs),
         |g AS (SELECT doc_id, list_sort(list_distinct(list_transform($sh,
         |    x -> ${h60("x")}))) AS gh FROM t),
         |gg AS (SELECT doc_id, gh FROM g WHERE len(gh) >= 1),
         |tok AS (SELECT doc_id, unnest(gh) AS tok, len(gh) AS n_tok FROM gg),
         |df AS (SELECT tok, count(*) AS df FROM tok GROUP BY tok),
         |rk AS (SELECT t.doc_id, t.tok, t.n_tok,
         |    row_number() OVER (PARTITION BY t.doc_id
         |      ORDER BY df.df ASC, t.tok ASC) AS rnk
         |  FROM tok t JOIN df ON df.tok = t.tok),
         |pre AS (SELECT doc_id, tok, n_tok, rnk FROM rk
         |  WHERE rnk <= n_tok - ceil(0.8 * n_tok - 1e-9) + 1),
         |cand AS (SELECT DISTINCT l.doc_id AS doc_in, r.doc_id AS doc_out
         |  FROM pre l JOIN rk r ON l.tok = r.tok AND l.doc_id <> r.doc_id
         |  WHERE r.n_tok >= ceil(0.8 * l.n_tok - 1e-9)
         |    AND least(l.n_tok - l.rnk, r.n_tok - r.rnk) + 1
         |      >= ceil(0.8 * l.n_tok - 1e-9)),
         |p AS (SELECT doc_in, doc_out,
         |    CAST(len(list_intersect(a.gh, b.gh)) AS BIGINT) AS n_shared,
         |    len(list_intersect(a.gh, b.gh))::DOUBLE / len(a.gh)::DOUBLE AS c
         |  FROM cand JOIN gg a ON a.doc_id = doc_in
         |  JOIN gg b ON b.doc_id = doc_out)
         |SELECT doc_in AS contained_doc, doc_out AS container_doc,
         |  n_shared, round(c, 6) AS containment
         |FROM p WHERE c >= 0.8""".stripMargin
    },
    "dedup_funnel" -> {
      // twin of Dedup.dedupFunnel: each layer's existing twin chain
      // reduced to a distinct flagged-doc set (containment CTEs renamed
      // c* to avoid colliding with the LSH chain's cand), then the
      // first-flagging-layer rollup and 3-row cumulative window
      val sh =
        s"CASE WHEN len(tk) >= 3 THEN list_transform(range(1, len(tk) - 1), j -> concat_ws(' ', tk[j], tk[j+1], tk[j+2])) ELSE CAST([] AS VARCHAR[]) END"
      s"""WITH $minhashSigCte,
         |lcand AS (SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
         |  FROM bands l JOIN bands r
         |  ON l.band_id = r.band_id AND l.band_hash = r.band_hash AND l.doc_id < r.doc_id),
         |lj AS (SELECT doc_a, doc_b, ${jac("wa.hb", "wb.hb")} AS jacc
         |  FROM lcand JOIN ws wa ON wa.doc_id = doc_a JOIN ws wb ON wb.doc_id = doc_b),
         |nd AS (SELECT DISTINCT doc_b AS doc_id FROM lj WHERE jacc >= 0.9),
         |fp AS (SELECT doc_id,
         |  md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS fp FROM $docs),
         |ex AS (SELECT f.doc_id FROM fp f
         |  JOIN (SELECT fp, min(doc_id) AS keep FROM fp GROUP BY 1) k ON f.fp = k.fp
         |  WHERE f.doc_id <> k.keep),
         |ct0 AS (SELECT doc_id, ${toks("lower(text)")} AS tk FROM $docs),
         |cg AS (SELECT doc_id, list_sort(list_distinct(list_transform($sh,
         |    x -> ${h60("x")}))) AS gh FROM ct0),
         |cgg AS (SELECT doc_id, gh FROM cg WHERE len(gh) >= 1),
         |ctok AS (SELECT doc_id, unnest(gh) AS tok, len(gh) AS n_tok FROM cgg),
         |cdf AS (SELECT tok, count(*) AS df FROM ctok GROUP BY tok),
         |crk AS (SELECT t.doc_id, t.tok, t.n_tok,
         |    row_number() OVER (PARTITION BY t.doc_id
         |      ORDER BY cdf.df ASC, t.tok ASC) AS rnk
         |  FROM ctok t JOIN cdf ON cdf.tok = t.tok),
         |cpre AS (SELECT doc_id, tok, n_tok, rnk FROM crk
         |  WHERE rnk <= n_tok - ceil(0.8 * n_tok - 1e-9) + 1),
         |ccand AS (SELECT DISTINCT l.doc_id AS doc_in, r.doc_id AS doc_out
         |  FROM cpre l JOIN crk r ON l.tok = r.tok AND l.doc_id <> r.doc_id
         |  WHERE r.n_tok >= ceil(0.8 * l.n_tok - 1e-9)
         |    AND least(l.n_tok - l.rnk, r.n_tok - r.rnk) + 1
         |      >= ceil(0.8 * l.n_tok - 1e-9)),
         |ctc AS (SELECT DISTINCT doc_in AS doc_id FROM (
         |  SELECT doc_in,
         |    len(list_intersect(a.gh, b.gh))::DOUBLE / len(a.gh)::DOUBLE AS c
         |  FROM ccand JOIN cgg a ON a.doc_id = doc_in
         |  JOIN cgg b ON b.doc_id = doc_out) WHERE c >= 0.8),
         |flags AS (SELECT doc_id, CAST(1 AS BIGINT) AS layer_order, 'exact' AS layer FROM ex
         |  UNION ALL SELECT doc_id, CAST(2 AS BIGINT), 'neardup' FROM nd
         |  UNION ALL SELECT doc_id, CAST(3 AS BIGINT), 'containment' FROM ctc),
         |lay AS (SELECT * FROM (VALUES (CAST(1 AS BIGINT), 'exact'),
         |  (CAST(2 AS BIGINT), 'neardup'), (CAST(3 AS BIGINT), 'containment'))
         |  AS t(layer_order, layer)),
         |plc AS (SELECT layer_order, count(*) AS nf FROM flags GROUP BY 1),
         |pl AS (SELECT lay.layer_order, lay.layer,
         |  CAST(coalesce(plc.nf, 0) AS BIGINT) AS n_flagged
         |  FROM lay LEFT JOIN plc ON plc.layer_order = lay.layer_order),
         |ff AS (SELECT fl, count(*) AS n_new FROM (
         |  SELECT doc_id, min(layer_order) AS fl FROM flags GROUP BY 1) GROUP BY 1),
         |tot AS (SELECT count(*) AS n_total FROM $docs)
         |SELECT pl.layer_order, pl.layer, pl.n_flagged,
         |  CAST(coalesce(ff.n_new, 0) AS BIGINT) AS n_new_flagged,
         |  tot.n_total - CAST(sum(coalesce(ff.n_new, 0)) OVER (
         |    ORDER BY pl.layer_order
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |    AS n_surviving_after
         |FROM pl LEFT JOIN ff ON ff.fl = pl.layer_order CROSS JOIN tot""".stripMargin
    },
    "dedup_lsh_tuning" -> {
      // twin of Dedup.lshTuningCurve (threshold=0.9): per banding of the
      // 16 permutations its own band-key join (DISTINCT pairs — the
      // Spark leftmost-band dedup emits the same set), truth = the
      // (8,2) finest-banding superset verified with exact jaccard
      // (r=1 deliberately not swept — quadratic buckets, see the
      // operator scaladoc), analytic S-curve point computed with the
      // identical Scala expression
      def r6(d: Double) = BigDecimal(d)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      val configs = Seq((8, 2), (4, 4), (2, 8))
      val candCtes = configs.map { case (b, r) =>
        val sel = (0 until b).map { bi =>
          val cols = (0 until r).map(ri => s"CAST(mh${bi * r + ri} AS VARCHAR)")
            .mkString(", ")
          s"SELECT doc_id, CAST($bi AS BIGINT) AS band_id, " +
            s"${h60(s"concat_ws('|', $cols)")} AS bk FROM sigm"
        }.mkString("\n  UNION ALL ")
        s"""bc_${b}_$r AS ($sel),
           |cd_${b}_$r AS MATERIALIZED (SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
           |  FROM bc_${b}_$r l JOIN bc_${b}_$r r
           |  ON l.band_id = r.band_id AND l.bk = r.bk AND l.doc_id < r.doc_id)""".stripMargin
      }.mkString(",\n")
      val countCtes = configs.map { case (b, r) =>
        s"""nc_${b}_$r AS (SELECT CAST(count(*) AS BIGINT) AS n_candidates FROM cd_${b}_$r),
           |nd_${b}_$r AS (SELECT CAST(count(*) AS BIGINT) AS n_detected FROM cd_${b}_$r c
           |  WHERE EXISTS (SELECT 1 FROM tru t
           |    WHERE t.doc_a = c.doc_a AND t.doc_b = c.doc_b))""".stripMargin
      }.mkString(",\n")
      val rows = configs.map { case (b, r) =>
        val p = r6(1.0 - math.pow(1.0 - math.pow(0.9, r), b))
        s"""SELECT CAST($b AS BIGINT) AS n_bands, CAST($r AS BIGINT) AS rows_per_band,
           |  CAST($p AS DOUBLE) AS p_detect_at_threshold,
           |  n_candidates, n_detected,
           |  CASE WHEN n_candidates > 0 THEN
           |    round(CAST(n_detected AS DOUBLE) / CAST(n_candidates AS DOUBLE), 6)
           |    END AS detect_precision,
           |  CASE WHEN n_truth > 0 THEN
           |    round(CAST(n_detected AS DOUBLE) / CAST(n_truth AS DOUBLE), 6)
           |    END AS recall_vs_union
           |FROM nd_${b}_$r CROSS JOIN nc_${b}_$r CROSS JOIN nt""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH $minhashSigCte,
         |sigm AS MATERIALIZED (SELECT sig.* FROM sig
         |  JOIN ws ON ws.doc_id = sig.doc_id WHERE len(ws.hb) > 0),
         |$candCtes,
         |tru AS MATERIALIZED (SELECT doc_a, doc_b FROM (
         |  SELECT doc_a, doc_b, ${jac("wa.hb", "wb.hb")} AS j
         |  FROM cd_8_2 JOIN ws wa ON wa.doc_id = doc_a
         |  JOIN ws wb ON wb.doc_id = doc_b) WHERE j >= 0.9),
         |nt AS (SELECT CAST(count(*) AS BIGINT) AS n_truth FROM tru),
         |$countCtes
         |$rows""".stripMargin
    },
    "dedup_clusters" ->
      // connected components of the banded-LSH pair graph via recursive
      // transitive closure; cluster_id = component minimum
      s"""WITH RECURSIVE $minhashSigCte,
         |cand AS (SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
         |  FROM bands l JOIN bands r
         |  ON l.band_id = r.band_id AND l.band_hash = r.band_hash AND l.doc_id < r.doc_id),
         |j AS (SELECT doc_a, doc_b, ${jac("wa.hb", "wb.hb")} AS jacc
         |  FROM cand JOIN ws wa ON wa.doc_id = doc_a JOIN ws wb ON wb.doc_id = doc_b),
         |pairs AS (SELECT doc_a, doc_b FROM j WHERE jacc >= 0.9),
         |edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
         |  UNION SELECT doc_b, doc_a FROM pairs),
         |reach(a, b) AS (
         |  SELECT a, b FROM edges
         |  UNION
         |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a WHERE e.b <> r.a)
         |SELECT d.doc_id, least(d.doc_id, coalesce(min(r.b), d.doc_id)) AS cluster_id
         |FROM $docs d LEFT JOIN reach r ON r.a = d.doc_id
         |GROUP BY d.doc_id""".stripMargin,
    "dedup_cluster_sizes" ->
      // twin of Dedup.clusterSizes — the clusters CTE rolled up to the
      // size histogram
      s"""WITH RECURSIVE $minhashSigCte,
         |cand AS (SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
         |  FROM bands l JOIN bands r
         |  ON l.band_id = r.band_id AND l.band_hash = r.band_hash AND l.doc_id < r.doc_id),
         |j AS (SELECT doc_a, doc_b, ${jac("wa.hb", "wb.hb")} AS jacc
         |  FROM cand JOIN ws wa ON wa.doc_id = doc_a JOIN ws wb ON wb.doc_id = doc_b),
         |pairs AS (SELECT doc_a, doc_b FROM j WHERE jacc >= 0.9),
         |edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
         |  UNION SELECT doc_b, doc_a FROM pairs),
         |reach(a, b) AS (
         |  SELECT a, b FROM edges
         |  UNION
         |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a WHERE e.b <> r.a),
         |labels AS (SELECT d.doc_id, least(d.doc_id, coalesce(min(r.b), d.doc_id)) AS cluster_id
         |  FROM $docs d LEFT JOIN reach r ON r.a = d.doc_id GROUP BY d.doc_id)
         |SELECT sz AS cluster_size, count(*) AS n_clusters,
         |  CAST(sum(sz) AS BIGINT) AS n_docs
         |FROM (SELECT cluster_id, count(*) AS sz FROM labels GROUP BY cluster_id)
         |GROUP BY sz""".stripMargin,
    "dedup_survivors" ->
      // one doc per cluster: doc_id equals its component minimum
      s"""WITH RECURSIVE $minhashSigCte,
         |cand AS (SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
         |  FROM bands l JOIN bands r
         |  ON l.band_id = r.band_id AND l.band_hash = r.band_hash AND l.doc_id < r.doc_id),
         |j AS (SELECT doc_a, doc_b, ${jac("wa.hb", "wb.hb")} AS jacc
         |  FROM cand JOIN ws wa ON wa.doc_id = doc_a JOIN ws wb ON wb.doc_id = doc_b),
         |pairs AS (SELECT doc_a, doc_b FROM j WHERE jacc >= 0.9),
         |edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
         |  UNION SELECT doc_b, doc_a FROM pairs),
         |reach(a, b) AS (
         |  SELECT a, b FROM edges
         |  UNION
         |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a WHERE e.b <> r.a),
         |labels AS (SELECT d.doc_id, least(d.doc_id, coalesce(min(r.b), d.doc_id)) AS cluster_id
         |  FROM $docs d LEFT JOIN reach r ON r.a = d.doc_id GROUP BY d.doc_id)
         |SELECT d.doc_id, d.lang, d.source, d.n_chars
         |FROM $docs d JOIN labels l ON d.doc_id = l.doc_id
         |WHERE l.doc_id = l.cluster_id""".stripMargin,
    "dedup_embedding_neardup" ->
      s"""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM $embs)
         |SELECT vec_a, vec_b, cos_sim FROM (
         |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         |    round(${cosSql("a.v", "b.v")}, 4) AS cos_sim
         |  FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id)
         |WHERE cos_sim >= 0.4""".stripMargin,
    "dedup_semantic_survivors" ->
      // twin of Dedup.semanticSurvivors — the embedding-neardup pair CTE
      // chained into the same recursive transitive closure the
      // fingerprint dedup twins use; survivor = component minimum
      s"""WITH RECURSIVE e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM $embs),
         |p AS (SELECT vec_a AS doc_a, vec_b AS doc_b FROM (
         |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         |    round(${cosSql("a.v", "b.v")}, 4) AS cos_sim
         |  FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id)
         |  WHERE cos_sim >= 0.4),
         |edges AS (SELECT doc_a AS a, doc_b AS b FROM p
         |  UNION SELECT doc_b, doc_a FROM p),
         |reach(a, b) AS (
         |  SELECT a, b FROM edges
         |  UNION
         |  SELECT r.a, e2.b FROM reach r JOIN edges e2 ON r.b = e2.a WHERE e2.b <> r.a),
         |labels AS (SELECT e.vec_id AS doc_id,
         |    least(e.vec_id, coalesce(min(r.b), e.vec_id)) AS cluster_id
         |  FROM e LEFT JOIN reach r ON r.a = e.vec_id GROUP BY e.vec_id)
         |SELECT e.vec_id, e.label FROM e
         |JOIN labels l ON l.doc_id = e.vec_id AND l.doc_id = l.cluster_id""".stripMargin)

  // ---- similarity -------------------------------------------------------

  /** Shared CTE chain of the centroid twins: embeddings → SRP(8) bucket
    * → exploded components → decimal-exact per-(bucket,pos) sums. */
  private lazy val centroidCtes: String =
    s"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM $embs),
       |sig AS (SELECT CAST(${srpBand("v", 0, 8)} AS BIGINT) AS bucket, v FROM e),
       |x AS (SELECT bucket, generate_subscripts(v, 1) - 1 AS pos, unnest(v) AS comp FROM sig),
       |a AS (SELECT bucket, pos, sum(CAST(comp AS DECIMAL(27,10))) AS s, count(*) AS cnt
       |  FROM x GROUP BY bucket, pos)""".stripMargin

  /** Subspace SRP projection — twin of the PQ code's fused kernel: plane
    * (a driver-side constant) truncated to the 8-dim subspace, exactly
    * how SrpBandExpr projects a shorter vector. */
  private def pqSubProj(sv: String, bit: Int): String = {
    val plane = graft.functions.SrpPlanes.plane(bit).take(8)
      .map(_.toString).mkString("[", ",", "]")
    s"list_sum(list_transform(range(8), i -> ($sv)[i+1] * " +
      s"(CAST($plane AS DOUBLE[]))[i+1]))"
  }

  /** Packed PQ code over subspace bits [offset, offset+n). */
  private def pqSubCode(sv: String, offset: Int, n: Int): String =
    (0 until n).map { lb =>
      s"(CASE WHEN ${pqSubProj(sv, offset + lb)} >= 0 THEN ${1L << lb} ELSE 0 END)"
    }.mkString("(", " + ", ")")

  /** PQ decomposition CTE over source `src` (must expose vec_id, v and
    * any `extra` columns): 8 subvector slices, each with its 4-bit SRP
    * code — emits `name AS (…)`. Twin of Similarity.pqDecomposed. */
  private def pqDecompCte(src: String, name: String,
                          extra: Seq[String] = Nil): String = {
    val ex = extra.map(c => s"$c, ").mkString
    val subs = (0 until 8).map { j =>
      val sv = s"list_slice(v, ${j * 8 + 1}, ${(j + 1) * 8})"
      s"SELECT vec_id, ${ex}CAST($j AS BIGINT) AS sub, " +
        s"CAST(${pqSubCode(sv, j * 4, 4)} AS BIGINT) AS code, $sv AS sv FROM $src"
    }.mkString("\n  UNION ALL ")
    s"$name AS ($subs)"
  }

  /** Shared CTE of the PQ twins: embeddings decomposed as `pq`. */
  private lazy val pqCte: String =
    s"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM $embs),
       |${pqDecompCte("e", "pq")}""".stripMargin

  /** Shared CTE chain of the IVFADC twins, through the per-(query,
    * candidate) `scored` relation: coarse SRP bucket → rounded centroid
    * means → residuals → residual PQ codes + codebook → probe set with
    * coarse ⟨q, centroid⟩ term → residual LUT → decimal coarse+residual
    * score over probed buckets only. */
  private lazy val ivfadcCtes: String = {
    val probeList = "[bucket" + (0 until 8).map(b => s", xor(bucket, ${1L << b})").mkString + "]"
    val dot64 = "list_sum(list_transform(range(64), i -> (q0.q_v)[i+1] * (cv.cv)[i+1]))"
    s"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM $embs),
       |sigv AS (SELECT vec_id, v, CAST(${srpBand("v", 0, 8)} AS BIGINT) AS bucket FROM e),
       |cx AS (SELECT bucket, generate_subscripts(v, 1) - 1 AS pos, unnest(v) AS comp FROM sigv),
       |ca AS (SELECT bucket, pos, sum(CAST(comp AS DECIMAL(27,10))) AS s, count(*) AS cnt
       |  FROM cx GROUP BY bucket, pos),
       |cv AS (SELECT bucket, list(round(CAST(s AS DOUBLE) / cnt, 6) ORDER BY pos) AS cv
       |  FROM ca GROUP BY bucket),
       |rv AS (SELECT s.vec_id, s.bucket,
       |  list_transform(range(64), i -> (s.v)[i+1] - (cv.cv)[i+1]) AS v
       |  FROM sigv s JOIN cv ON cv.bucket = s.bucket),
       |${pqDecompCte("rv", "rpq", Seq("bucket"))},
       |rx AS (SELECT sub, code, CAST(generate_subscripts(sv, 1) - 1 AS BIGINT) AS pos,
       |  unnest(sv) AS comp FROM rpq),
       |ra AS (SELECT sub, code, pos, sum(CAST(comp AS DECIMAL(27,10))) AS s,
       |  count(*) AS n FROM rx GROUP BY sub, code, pos),
       |rcbv AS (SELECT sub, code, list(round(CAST(s AS DOUBLE) / n, 6) ORDER BY pos) AS cv
       |  FROM ra GROUP BY sub, code),
       |q0 AS (SELECT vec_id AS q_id, v AS q_v FROM e WHERE vec_id < 5),
       |qp AS (SELECT vec_id AS q_id, unnest($probeList) AS q_bucket
       |  FROM sigv WHERE vec_id < 5),
       |coarse AS (SELECT qp.q_id, qp.q_bucket,
       |  CAST($dot64 AS DECIMAL(27,10)) AS cpart
       |  FROM qp JOIN q0 ON q0.q_id = qp.q_id JOIN cv ON cv.bucket = qp.q_bucket),
       |qs AS (SELECT q_id, CAST(t.s AS BIGINT) AS sub,
       |  list_slice(q_v, t.s * 8 + 1, t.s * 8 + 8) AS qv FROM q0, range(8) t(s)),
       |lut AS (SELECT q_id, qs.sub, rcbv.code,
       |  CAST(list_sum(list_transform(range(8), i -> (qv)[i+1] * (cv)[i+1]))
       |    AS DECIMAL(27,10)) AS part
       |  FROM qs JOIN rcbv ON qs.sub = rcbv.sub),
       |scored AS (SELECT co.q_id, p.vec_id,
       |  round(CAST(sum(l.part) + max(co.cpart) AS DOUBLE), 6) AS adc_score
       |  FROM rpq p JOIN coarse co ON p.bucket = co.q_bucket AND p.vec_id <> co.q_id
       |  JOIN lut l ON l.q_id = co.q_id AND l.sub = p.sub AND l.code = p.code
       |  GROUP BY co.q_id, p.vec_id)""".stripMargin
  }

  /** Shared CTE chain of the Lloyd-refinement twins: seed decomposition
    * + seed codebook (`cbv`) → nearest-seed-entry reassignment (d² in
    * the same fp order as the codegen kernel, rounded to 6, ties to the
    * smaller code = the heap's tiebreak) → decimal-exact refined means
    * `lcb`. Twin of Similarity.pqLloydCodebooksFrom; shared by
    * sim_pq_lloyd and the trained-ADC twins to prevent drift. */
  /** One Lloyd step as CTEs: every `src` subvector (default: the full
    * decomposition `pq`) reassigned to its nearest entry of `inV`
    * (sub, code, cv) — same d² composition,
    * 6-decimal round and smaller-code tiebreak as
    * Similarity.nearestCodeIn (the assigned d2 rides along for the
    * trajectory's MSE) — then per-(sub, code, pos) DECIMAL means and
    * reassembled entry vectors. Emits `<p>scored`, `<p>assigned`,
    * `<p>x`, `<p>a`, `<p>cb`, `<p>cbv`; chain steps by feeding
    * `<p>cbv` to the next step's `inV`. */
  private def lloydStepCtes(inV: String, p: String,
                            src: String = "pq"): String =
    s"""${p}scored AS (SELECT p.vec_id, p.sub, $inV.code, p.sv,
       |  round(list_sum(list_transform(range(8), i -> (p.sv)[i+1] * (p.sv)[i+1]))
       |    - 2.0 * list_sum(list_transform(range(8), i -> (p.sv)[i+1] * (cv)[i+1]))
       |    + list_sum(list_transform(range(8), i -> (cv)[i+1] * (cv)[i+1])), 6) AS d2
       |  FROM $src p JOIN $inV ON p.sub = $inV.sub),
       |${p}assigned AS (SELECT vec_id, sub, code, sv, d2 FROM (
       |  SELECT *, row_number() OVER (PARTITION BY vec_id, sub
       |    ORDER BY d2 ASC, code ASC) AS rn FROM ${p}scored) WHERE rn <= 1),
       |${p}x AS (SELECT sub, code, CAST(generate_subscripts(sv, 1) - 1 AS BIGINT) AS pos,
       |  unnest(sv) AS comp FROM ${p}assigned),
       |${p}a AS (SELECT sub, code, pos, sum(CAST(comp AS DECIMAL(27,10))) AS s,
       |  count(*) AS n_vecs FROM ${p}x GROUP BY sub, code, pos),
       |${p}cb AS (SELECT sub, code, pos, round(CAST(s AS DOUBLE) / n_vecs, 6) AS mean_comp,
       |  n_vecs FROM ${p}a),
       |${p}cbv AS (SELECT sub, code, list(mean_comp ORDER BY pos) AS cv
       |  FROM ${p}cb GROUP BY sub, code)""".stripMargin

  private lazy val pqLloydCtes: String =
    s"""$pqCte,
       |$pqCodebookCtes,
       |cbv AS (SELECT sub, code, list(mean_comp ORDER BY pos) AS cv
       |  FROM cb GROUP BY sub, code),
       |${lloydStepCtes("cbv", "l")}""".stripMargin

  /** Trained-ADC CTE chain (follows [[pqLloydCtes]], which now supplies
    * the refined codebook vectors `lcbv`): corpus re-encode (nearest refined entry, same d² and
    * tiebreak) → per-query LUT against the refined entries → decimal
    * ADC partials summed per (query, candidate) as `tsc`. Twin of
    * Similarity.adcTrainedTopKFrom's scored relation. */
  private lazy val trainedAdcCtes: String =
    """tscored AS (SELECT p.vec_id, p.sub, lcbv.code,
      |  round(list_sum(list_transform(range(8), i -> (p.sv)[i+1] * (p.sv)[i+1]))
      |    - 2.0 * list_sum(list_transform(range(8), i -> (p.sv)[i+1] * (cv)[i+1]))
      |    + list_sum(list_transform(range(8), i -> (cv)[i+1] * (cv)[i+1])), 6) AS d2
      |  FROM pq p JOIN lcbv ON p.sub = lcbv.sub),
      |tcodes AS (SELECT vec_id, sub, code FROM (
      |  SELECT *, row_number() OVER (PARTITION BY vec_id, sub
      |    ORDER BY d2 ASC, code ASC) AS rn FROM tscored) WHERE rn <= 1),
      |tq AS (SELECT vec_id AS q_id, sub, sv AS qv FROM pq WHERE vec_id < 5),
      |tlut AS (SELECT q_id, tq.sub, lcbv.code,
      |  CAST(list_sum(list_transform(range(8), i -> (qv)[i+1] * (cv)[i+1]))
      |    AS DECIMAL(27,10)) AS part
      |  FROM tq JOIN lcbv ON tq.sub = lcbv.sub),
      |tsc AS (SELECT l.q_id, t.vec_id,
      |  round(CAST(sum(part) AS DOUBLE), 6) AS adc_score
      |  FROM tcodes t JOIN tlut l ON t.sub = l.sub AND t.code = l.code
      |    AND t.vec_id <> l.q_id
      |  GROUP BY l.q_id, t.vec_id)""".stripMargin

  /** Shared codebook CTE chain (follows [[pqCte]]): exploded subvector
    * components → decimal-exact per-(sub, code, pos) means. */
  private lazy val pqCodebookCtes: String =
    """x AS (SELECT sub, code, CAST(generate_subscripts(sv, 1) - 1 AS BIGINT) AS pos,
      |  unnest(sv) AS comp FROM pq),
      |a AS (SELECT sub, code, pos, sum(CAST(comp AS DECIMAL(27,10))) AS s,
      |  count(*) AS n_vecs FROM x GROUP BY sub, code, pos),
      |cb AS (SELECT sub, code, pos,
      |  round(CAST(s AS DOUBLE) / n_vecs, 6) AS mean_comp, n_vecs FROM a)""".stripMargin

  /** Seed (SRP-mean) codebook vectors over a decomposition CTE `src`,
    * emitted as `<p>x0`/`<p>a0`/`<p>cbv0` — the parameterized form of
    * the shared [[pqCodebookCtes]]+cbv pair, for twins that train a
    * codebook on a ROW SUBSET (the append twin's standing-only
    * trainer). */
  private def seedCbvCtes(src: String, p: String): String =
    s"""${p}x0 AS (SELECT sub, code, CAST(generate_subscripts(sv, 1) - 1 AS BIGINT) AS pos,
       |  unnest(sv) AS comp FROM $src),
       |${p}a0 AS (SELECT sub, code, pos, sum(CAST(comp AS DECIMAL(27,10))) AS s,
       |  count(*) AS n_vecs FROM ${p}x0 GROUP BY sub, code, pos),
       |${p}cbv0 AS (SELECT sub, code, list(round(CAST(s AS DOUBLE) / n_vecs, 6) ORDER BY pos) AS cv
       |  FROM ${p}a0 GROUP BY sub, code)""".stripMargin

  /** Shared IVF-PQ ADC chain — twin of Similarity.ivfPqTopKFrom's
    * scoring stage, ending at `scored(q_id, vec_id, adc_score)`: the
    * sim_ivf_topk coarse probe CTE composed with the sim_pq_adc_topk
    * LUT — ADC scoring restricted to candidates whose coarse bucket is
    * in the query's probe set; a corpus vector matches at most ONE
    * probe per query (probe buckets are distinct XORs of one bucket),
    * so cand is duplicate-free on both engines and the 8 decimal
    * partials sum once. Shared by sim_ivfpq_topk and sim_ivfpq_rerank. */
  private lazy val ivfPqScoredCtes: String = {
    val probeList = "[bucket" + (0 until 8).map(b => s", xor(bucket, ${1L << b})").mkString + "]"
    s"""$pqCte,
       |$pqCodebookCtes,
       |cbv AS (SELECT sub, code, list(mean_comp ORDER BY pos) AS cv
       |  FROM cb GROUP BY sub, code),
       |sig AS (SELECT vec_id, ${srpBand("v", 0, 8)} AS bucket FROM e),
       |qp AS (SELECT vec_id AS q_id, unnest($probeList) AS q_bucket
       |  FROM sig WHERE vec_id < 5),
       |q AS (SELECT vec_id AS q_id, sub, sv AS qv FROM pq WHERE vec_id < 5),
       |lut AS (SELECT q_id, q.sub, cbv.code,
       |  CAST(list_sum(list_transform(range(8), i -> (qv)[i+1] * (cv)[i+1]))
       |    AS DECIMAL(27,10)) AS part
       |  FROM q JOIN cbv ON q.sub = cbv.sub),
       |cand AS (SELECT qp.q_id, s.vec_id FROM sig s
       |  JOIN qp ON s.bucket = qp.q_bucket AND s.vec_id <> qp.q_id),
       |scored AS (SELECT c.q_id, p.vec_id,
       |  round(CAST(sum(part) AS DOUBLE), 6) AS adc_score
       |  FROM pq p JOIN cand c ON p.vec_id = c.vec_id
       |  JOIN lut l ON l.q_id = c.q_id AND p.sub = l.sub AND p.code = l.code
       |  GROUP BY c.q_id, p.vec_id)""".stripMargin
  }

  private val similarity: Map[String, String] = Map(
    "sim_kcenter_seeds" -> {
      // twin of Similarity.kcenterSeeds (k=8): the greedy farthest-point
      // rounds unrolled as MATERIALIZED CTEs (each d-round is referenced
      // by both the next selection and the next update — inlining would
      // double the chain per round, the graph_kcore lesson). d² is the
      // same sequential-fold the Spark HOF computes.
      val k = 8
      def d2s(a: String, b: String) =
        s"list_sum(list_transform(range(64), i -> " +
          s"(($a)[i+1] - ($b)[i+1]) * (($a)[i+1] - ($b)[i+1])))"
      val rounds = (2 to k).map { i =>
        s"""c$i AS MATERIALIZED (SELECT vec_id, v, dmin FROM d${i - 1}
           |  ORDER BY dmin DESC, vec_id ASC LIMIT 1),
           |d$i AS MATERIALIZED (SELECT d.vec_id, d.v,
           |    least(d.dmin, ${d2s("d.v", "c.v")}) AS dmin
           |  FROM d${i - 1} d, c$i c)""".stripMargin
      }.mkString(",\n")
      val sels = (2 to k).map(i =>
        s"SELECT CAST($i AS BIGINT) AS rk, vec_id, round(dmin, 6) AS sel_d2 FROM c$i")
        .mkString("\nUNION ALL ")
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM $embs),
         |s1 AS MATERIALIZED (SELECT vec_id, v FROM e ORDER BY vec_id ASC LIMIT 1),
         |d1 AS MATERIALIZED (SELECT e.vec_id, e.v, ${d2s("e.v", "s.v")} AS dmin
         |  FROM e, s1 s),
         |$rounds
         |SELECT CAST(1 AS BIGINT) AS rk, vec_id, CAST(NULL AS DOUBLE) AS sel_d2 FROM s1
         |UNION ALL $sels""".stripMargin
    },
    "sim_kmeanspp_seeds" -> {
      // twin of Similarity.kmeansParallelSeeds (l=8, rounds=3): the
      // k-means|| Bernoulli rounds unrolled as MATERIALIZED CTEs.
      // φ sums round-8 d² in DECIMAL (order-free); the coin fraction
      // and the 8.0·d²₈/φ threshold are the same left-to-right double
      // ops as the Spark side; the per-round dmin update min-joins the
      // selected centers (min over exact doubles is order-free, so the
      // aggregate equals Spark's pairwise least chain)
      val rounds = 3
      def d2s(a: String, b: String) =
        s"list_sum(list_transform(range(64), i -> " +
          s"(($a)[i+1] - ($b)[i+1]) * (($a)[i+1] - ($b)[i+1])))"
      val body = (1 to rounds).map { r =>
        val upd = if (r < rounds)
          s""",
             |m$r AS (SELECT s.vec_id, min(${d2s("s.v", "c.v")}) AS md
             |  FROM s${r - 1} s CROSS JOIN sel$r c GROUP BY s.vec_id),
             |s$r AS MATERIALIZED (SELECT s.vec_id, s.v,
             |    least(s.dmin, coalesce(m.md, s.dmin)) AS dmin
             |  FROM s${r - 1} s LEFT JOIN m$r m ON s.vec_id = m.vec_id)""".stripMargin
        else ""
        s"""p$r AS (SELECT CAST(sum(CAST(round(dmin, 8) AS DECIMAL(38,12)))
           |    AS DOUBLE) AS phi FROM s${r - 1}),
           |sel$r AS MATERIALIZED (SELECT vec_id, v, round(dmin, 8) AS sd
           |  FROM s${r - 1} CROSS JOIN p$r
           |  WHERE CAST(${h60(s"concat(CAST(vec_id AS VARCHAR), '#kpp#$r')")}
           |      % 1000000 AS BIGINT)::DOUBLE / 1000000.0
           |    < 8.0 * round(dmin, 8) / phi)$upd""".stripMargin
      }.mkString(",\n")
      val sels = (1 to rounds).map(r =>
        s"SELECT CAST($r AS BIGINT) AS sel_round, vec_id, round(sd, 6) AS sel_d2 FROM sel$r")
        .mkString("\nUNION ALL ")
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM $embs),
         |c0 AS MATERIALIZED (SELECT vec_id, v FROM e ORDER BY vec_id ASC LIMIT 1),
         |s0 AS MATERIALIZED (SELECT e.vec_id, e.v, ${d2s("e.v", "c.v")} AS dmin
         |  FROM e CROSS JOIN c0 c),
         |$body
         |SELECT CAST(0 AS BIGINT) AS sel_round, vec_id,
         |  CAST(NULL AS DOUBLE) AS sel_d2 FROM c0
         |UNION ALL $sels""".stripMargin
    },
    "sim_pq_balanced" -> {
      // twin of Similarity.pqBalanced: per-dimension variance from
      // DECIMAL sums (squares rounded to scale 10 on BOTH sides before
      // summing), the 64-row rank -> round-robin (sub, spos) map, then
      // the standard PQ codebook/recon chain over the permuted
      // subvectors; the per-sub code is the CASE-dispatched pqSubCode
      val codeCase = "CASE sub " + (0 until 8).map(j =>
        s"WHEN $j THEN ${pqSubCode("sv", j * 4, 4)}").mkString(" ") + " END"
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM $embs),
         |comp AS (SELECT vec_id, CAST(generate_subscripts(v, 1) - 1 AS BIGINT) AS pos,
         |  unnest(v) AS comp FROM e),
         |st AS (SELECT pos, count(*) AS n,
         |  sum(CAST(comp AS DECIMAL(27,10))) AS s,
         |  sum(CAST(comp * comp AS DECIMAL(27,10))) AS ss
         |  FROM comp GROUP BY pos),
         |vt AS (SELECT pos, round((CAST(ss AS DOUBLE)
         |  - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n) / n, 6) AS v_pos FROM st),
         |m AS (SELECT pos, v_pos,
         |  CAST((rn - 1) % 8 AS BIGINT) AS sub,
         |  CAST((rn - 1) // 8 AS BIGINT) AS spos
         |  FROM (SELECT pos, v_pos,
         |    row_number() OVER (ORDER BY v_pos DESC, pos ASC) AS rn FROM vt)),
         |bsv AS (SELECT c.vec_id, m.sub, list(c.comp ORDER BY m.spos) AS sv
         |  FROM comp c JOIN m ON c.pos = m.pos GROUP BY c.vec_id, m.sub),
         |bcode AS (SELECT vec_id, sub, CAST($codeCase AS BIGINT) AS code, sv FROM bsv),
         |bx AS (SELECT sub, code,
         |  CAST(generate_subscripts(sv, 1) - 1 AS BIGINT) AS spos,
         |  unnest(sv) AS comp FROM bcode),
         |bcb AS (SELECT sub, code, spos,
         |  round(CAST(sum(CAST(comp AS DECIMAL(27,10))) AS DOUBLE) / count(*), 6)
         |    AS mean_comp
         |  FROM bx GROUP BY sub, code, spos),
         |sse AS (SELECT bx.sub,
         |  round(CAST(sum(CAST((bx.comp - bcb.mean_comp) * (bx.comp - bcb.mean_comp)
         |    AS DECIMAL(27,10))) AS DOUBLE) / count(*), 6) AS mse,
         |  count(*) AS n_comps
         |  FROM bx JOIN bcb ON bx.sub = bcb.sub AND bx.code = bcb.code
         |    AND bx.spos = bcb.spos
         |  GROUP BY bx.sub),
         |vs AS (SELECT sub,
         |  round(CAST(sum(CAST(v_pos AS DECIMAL(27,10))) AS DOUBLE), 6) AS var_sum,
         |  count(*) AS n_dims FROM m GROUP BY sub)
         |SELECT vs.sub, n_dims, var_sum, mse, n_comps
         |FROM vs JOIN sse ON vs.sub = sse.sub""".stripMargin
    },
    "sim_brute_force_topk" ->
      // the Spark two-phase rank == a single global rank per query
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM $embs),
         |q AS (SELECT vec_id AS q_id, v AS q_v FROM e WHERE vec_id < 5),
         |scored AS (SELECT q.q_id, e.vec_id,
         |  round(${cosSql("q.q_v", "e.v")}, 4) AS cos_sim
         |  FROM e JOIN q ON e.vec_id <> q.q_id)
         |SELECT q_id, vec_id, cos_sim FROM (
         |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, vec_id ASC) AS rn
         |  FROM scored) WHERE rn <= 10""".stripMargin,
    "sim_topk_agg" ->
      // the bounded-heap aggregate is rank-deterministic (score desc, id
      // asc), so its oracle is the same window formulation as the
      // brute-force twin
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM $embs),
         |q AS (SELECT vec_id AS q_id, v AS q_v FROM e WHERE vec_id < 5),
         |scored AS (SELECT q.q_id, e.vec_id,
         |  round(${cosSql("q.q_v", "e.v")}, 4) AS cos_sim
         |  FROM e JOIN q ON e.vec_id <> q.q_id)
         |SELECT q_id, vec_id, cos_sim FROM (
         |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, vec_id ASC) AS rn
         |  FROM scored) WHERE rn <= 10""".stripMargin,
    "sim_ivf_topk" -> {
      val probeList = "[bucket" + (0 until 8).map(b => s", xor(bucket, ${1L << b})").mkString + "]"
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM $embs),
         |sig AS (SELECT vec_id, v, ${srpBand("v", 0, 8)} AS bucket FROM e),
         |q AS (SELECT vec_id AS q_id, v AS q_v, unnest($probeList) AS q_bucket
         |  FROM sig WHERE vec_id < 5),
         |scored AS (SELECT q.q_id, s.vec_id,
         |  round(${cosSql("q.q_v", "s.v")}, 4) AS cos_sim
         |  FROM sig s JOIN q ON s.bucket = q.q_bucket AND s.vec_id <> q.q_id)
         |SELECT q_id, vec_id, cos_sim FROM (
         |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, vec_id ASC) AS rn
         |  FROM scored) WHERE rn <= 10""".stripMargin
    },
    "sim_pca_power" -> {
      // twin of Similarity.pcaPower (iters=6): sampled covariance with
      // round-10 decimal product sums, then 4 unrolled matvec+normalize
      // rounds — every intermediate rounded exactly as the engine's
      val steps = (1 to 6).map { k =>
        s"""w$k AS (SELECT cov.i,
           |    round(CAST(sum(CAST(round(cov.c * v.val, 12) AS DECIMAL(38,12))) AS DOUBLE), 10) AS w
           |  FROM cov JOIN v${k - 1} v ON cov.j = v.p GROUP BY cov.i),
           |n$k AS (SELECT sqrt(round(CAST(sum(CAST(round(w * w, 12) AS DECIMAL(38,12))) AS DOUBLE), 10)) AS nrm FROM w$k),
           |v$k AS MATERIALIZED (SELECT i AS p, round(w / nrm, 8) AS val
           |  FROM w$k CROSS JOIN n$k)""".stripMargin
      }.mkString(",\n")
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM $embs
         |  WHERE vec_id % 4 = 0),
         |x AS (SELECT vec_id, generate_subscripts(v, 1) - 1 AS pos, unnest(v) AS comp FROM e),
         |mu AS (SELECT pos, round(CAST(sum(CAST(comp AS DECIMAL(27,10))) AS DOUBLE)
         |    / count(*), 6) AS mu FROM x GROUP BY pos),
         |cx AS (SELECT x.vec_id, x.pos, x.comp - mu.mu AS d FROM x JOIN mu ON x.pos = mu.pos),
         |cov AS MATERIALIZED (SELECT a.pos AS i, b.pos AS j,
         |    round(CAST(sum(CAST(round(a.d * b.d, 10) AS DECIMAL(27,10))) AS DOUBLE)
         |      / count(*), 8) AS c
         |  FROM cx a JOIN cx b ON a.vec_id = b.vec_id GROUP BY a.pos, b.pos),
         |v0 AS (SELECT DISTINCT i AS p, CAST(0.125 AS DOUBLE) AS val FROM cov),
         |$steps
         |SELECT CAST(p AS BIGINT) AS pos, val AS loading, round(nrm, 6) AS eigenvalue
         |FROM v6 CROSS JOIN n6""".stripMargin
    },
    "sim_dim_stats" ->
      // twin of Similarity.dimStats: decimal-exact Σx and Σx² per
      // dimension, double divisions and the variance expression written
      // in the same op order as the engine
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM $embs),
         |x AS (SELECT generate_subscripts(v, 1) - 1 AS pos, unnest(v) AS comp FROM e),
         |a AS (SELECT pos, count(*) AS n_vecs,
         |    sum(CAST(comp AS DECIMAL(27,10))) AS s1,
         |    sum(CAST(comp * comp AS DECIMAL(27,10))) AS s2,
         |    min(comp) AS mn, max(comp) AS mx
         |  FROM x GROUP BY pos)
         |SELECT CAST(pos AS BIGINT) AS pos, n_vecs,
         |  round(CAST(s1 AS DOUBLE) / n_vecs, 6) AS mean,
         |  round(CAST(s2 AS DOUBLE) / n_vecs
         |    - (CAST(s1 AS DOUBLE) / n_vecs) * (CAST(s1 AS DOUBLE) / n_vecs), 6) AS variance,
         |  round(mn, 6) AS min_comp, round(mx, 6) AS max_comp
         |FROM a""".stripMargin,
    "sim_mmr_rerank" -> {
      // twin of Similarity.mmrRerank (nQ=5, m=20, k=5): the
      // sim_brute_force_topk shortlist at rn<=20, the within-shortlist
      // sim matrix, then the k greedy steps unrolled — each step picks
      // rn=1 of round(0.7*rel - 0.3*max_sim_to_selected, 6) with the
      // vec_id tiebreak; MATERIALIZED for the graph_kcore reason
      val steps = (2 to 5).map { i =>
        s"""pen$i AS (SELECT r.q_id, r.vec_id, r.rel, coalesce(max(ms.sim), 0.0) AS pen
           |  FROM (SELECT sh.* FROM short sh WHERE NOT EXISTS (SELECT 1
           |    FROM sel${i - 1} s WHERE s.q_id = sh.q_id AND s.vec_id = sh.vec_id)) r
           |  LEFT JOIN (SELECT m.q_id, m.d, m.sim FROM sims m
           |    JOIN sel${i - 1} s ON m.q_id = s.q_id AND m.s = s.vec_id) ms
           |  ON ms.q_id = r.q_id AND ms.d = r.vec_id
           |  GROUP BY r.q_id, r.vec_id, r.rel),
           |s$i AS (SELECT q_id, vec_id, rel, mmr, CAST($i AS BIGINT) AS step FROM (
           |  SELECT q_id, vec_id, rel, round(0.7 * rel - 0.3 * pen, 6) AS mmr,
           |    row_number() OVER (PARTITION BY q_id
           |      ORDER BY round(0.7 * rel - 0.3 * pen, 6) DESC, vec_id ASC) AS rn
           |  FROM pen$i) WHERE rn = 1),
           |sel$i AS MATERIALIZED (SELECT * FROM sel${i - 1} UNION ALL SELECT * FROM s$i)""".stripMargin
      }.mkString(",\n")
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM $embs),
         |q AS (SELECT vec_id AS q_id, v AS q_v FROM e WHERE vec_id < 5),
         |scored AS (SELECT q.q_id, e.vec_id,
         |  round(${cosSql("q.q_v", "e.v")}, 4) AS rel
         |  FROM e JOIN q ON e.vec_id <> q.q_id),
         |short AS MATERIALIZED (SELECT q_id, vec_id, rel FROM (
         |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY rel DESC, vec_id ASC) AS rn
         |  FROM scored) WHERE rn <= 20),
         |sims AS MATERIALIZED (SELECT x.q_id, x.vec_id AS d, y.vec_id AS s,
         |  round(${cosSql("ex.v", "ey.v")}, 4) AS sim
         |  FROM short x JOIN short y ON x.q_id = y.q_id AND x.vec_id <> y.vec_id
         |  JOIN e ex ON ex.vec_id = x.vec_id JOIN e ey ON ey.vec_id = y.vec_id),
         |sel1 AS MATERIALIZED (SELECT q_id, vec_id, rel, mmr, CAST(1 AS BIGINT) AS step FROM (
         |  SELECT q_id, vec_id, rel, round(0.7 * rel - 0.3 * 0.0, 6) AS mmr,
         |    row_number() OVER (PARTITION BY q_id
         |      ORDER BY round(0.7 * rel - 0.3 * 0.0, 6) DESC, vec_id ASC) AS rn
         |  FROM short) WHERE rn = 1),
         |$steps
         |SELECT q_id, step, vec_id, rel, mmr AS mmr_score FROM sel5""".stripMargin
    },
    "sim_range_search" -> {
      // twin of Similarity.ivfRangeSearch(tau=0.3): the sim_ivf_topk
      // probe chain with the rank truncation replaced by the tau filter
      val probeList = "[bucket" + (0 until 8).map(b => s", xor(bucket, ${1L << b})").mkString + "]"
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM $embs),
         |sig AS (SELECT vec_id, v, ${srpBand("v", 0, 8)} AS bucket FROM e),
         |q AS (SELECT vec_id AS q_id, v AS q_v, unnest($probeList) AS q_bucket
         |  FROM sig WHERE vec_id < 5),
         |scored AS (SELECT q.q_id, s.vec_id,
         |  round(${cosSql("q.q_v", "s.v")}, 4) AS cos_sim
         |  FROM sig s JOIN q ON s.bucket = q.q_bucket AND s.vec_id <> q.q_id)
         |SELECT q_id, vec_id, cos_sim FROM scored WHERE cos_sim >= 0.3""".stripMargin
    },
    "sim_srp_neardup_pairs" -> {
      val bandSelects = (0 until 4).map { b =>
        s"SELECT vec_id, CAST($b AS BIGINT) AS band_id, ${srpBand("v", b * srpBits, srpBits)} AS band_val FROM e"
      }.mkString("\n  UNION ALL ")
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM $embs),
         |bands AS ($bandSelects),
         |cand AS (SELECT DISTINCT l.vec_id AS vec_a, r.vec_id AS vec_b
         |  FROM bands l JOIN bands r
         |  ON l.band_id = r.band_id AND l.band_val = r.band_val AND l.vec_id < r.vec_id)
         |SELECT vec_a, vec_b, cos_sim FROM (
         |  SELECT vec_a, vec_b, round(${cosSql("a.v", "b.v")}, 4) AS cos_sim
         |  FROM cand JOIN e a ON a.vec_id = vec_a JOIN e b ON b.vec_id = vec_b)
         |WHERE cos_sim >= 0.4""".stripMargin
    },
    "sim_knn_graph" ->
      // twin of Similarity.knnGraph(k=5): the block-grid equi-join covers
      // the pair space exactly once, so its oracle is the plain cross
      // join + per-source window rank (heap is score-desc/id-asc too)
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM $embs),
         |scored AS (SELECT a.vec_id AS src_id, b.vec_id AS nbr_id,
         |  round(${cosSql("a.v", "b.v")}, 4) AS cos_sim
         |  FROM e a JOIN e b ON a.vec_id <> b.vec_id)
         |SELECT src_id, nbr_id, cos_sim FROM (
         |  SELECT *, row_number() OVER (PARTITION BY src_id ORDER BY cos_sim DESC, nbr_id ASC) AS rn
         |  FROM scored) WHERE rn <= 5""".stripMargin,
    "sim_knn_descent" ->
      // twin of Similarity.knnDescent(k=5, iters=3, nInitBuckets=16,
      // revCap=5): two-seeded hash-bucket init (a single partition is
      // closed under neighbor-of-neighbor; the union of two mixes),
      // then three unrolled NN-descent rounds (reverse cap 5, sym ∪
      // sym∘sym candidates, round-4 cosine, top-k under (cos DESC,
      // id ASC)) — every step is a pure function of the deterministic
      // init, so this is a hash match, not a recall bound (recall vs
      // the exact graph is priced in DedupSimilaritySpec)
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM $embs),
         |${knnDescentChain(5)}
         |SELECT src_id, nbr_id, cos_sim FROM g3""".stripMargin,
    "sim_knn_descent_sq8" ->
      // twin of Similarity.knnDescentSq8: the same descent chain with
      // rounds scored over SQ8-DECODED grid points (the oracle decodes
      // straight from v — the code column is an engine-side width
      // optimization, not a semantic), then the final graph's surviving
      // pairs exact-rescored from the raw vectors
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM $embs),
         |${knnDescentChain(5, sq8 = true)}
         |SELECT g.src_id, g.nbr_id, g.cos_sim AS cos_sim_sq8,
         |  round(${cosSql("ev.v", "ew.v")}, 4) AS cos_sim
         |FROM g3 g JOIN e ev ON ev.vec_id = g.src_id
         |JOIN e ew ON ew.vec_id = g.nbr_id""".stripMargin,
    "sim_graph_ann_descent" ->
      // twin of Similarity.graphAnnDescentTopK (nQ=5, k=10, beam=16,
      // hops=4, entryMod=16, knnK=8, maxEntries=64): the NN-descent
      // chain at k=8 builds the graph; the beam CTEs walk it — the
      // end-to-end sub-quadratic ANN twin (hash match, recall priced
      // in DedupSimilaritySpec)
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM $embs),
         |${knnDescentChain(8)},
         |g AS MATERIALIZED (SELECT src_id, nbr_id FROM g3),
         |${beamSearchCtes}
         |SELECT q_id, vec_id, cos_sim FROM (
         |  SELECT *, row_number() OVER (PARTITION BY q_id
         |    ORDER BY cos_sim DESC, vec_id ASC) AS rn
         |  FROM bb4) WHERE rn <= 10""".stripMargin,
    "sim_centroid_shift" ->
      // twin of Similarity.centroidShift: the seed-centroid and
      // lloyd-iteration twins composed; cosine over the same rounded
      // component means, so the doubles agree bit-for-bit
      s"""WITH $centroidCtes,
         |cv0 AS (SELECT bucket, list(round(CAST(s AS DOUBLE) / cnt, 6) ORDER BY pos) AS v0,
         |    max(cnt) AS n0 FROM a GROUP BY bucket),
         |cv AS (SELECT bucket, list(round(CAST(s AS DOUBLE) / cnt, 6) ORDER BY pos) AS cv
         |  FROM a GROUP BY bucket),
         |scored AS (SELECT e.vec_id, cv.bucket,
         |  round(${cosSql("e.v", "cv.cv")}, 4) AS cos_sim FROM e, cv),
         |assigned AS (SELECT vec_id, bucket FROM (
         |  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cos_sim DESC, bucket ASC) AS rn
         |  FROM scored) WHERE rn <= 1),
         |x2 AS (SELECT g.bucket, generate_subscripts(e.v, 1) - 1 AS pos, unnest(e.v) AS comp
         |  FROM e JOIN assigned g ON e.vec_id = g.vec_id),
         |a2 AS (SELECT bucket, pos, sum(CAST(comp AS DECIMAL(27,10))) AS s, count(*) AS cnt
         |  FROM x2 GROUP BY bucket, pos),
         |cv1 AS (SELECT bucket, list(round(CAST(s AS DOUBLE) / cnt, 6) ORDER BY pos) AS v1,
         |    max(cnt) AS n1 FROM a2 GROUP BY bucket)
         |SELECT cv0.bucket, round(${cosSql("cv0.v0", "cv1.v1")}, 4) AS cos_move,
         |  n0 AS n_before, n1 AS n_after
         |FROM cv0 JOIN cv1 ON cv0.bucket = cv1.bucket""".stripMargin,
    "sim_recall_report" -> {
      // twin of Similarity.recallReport: the brute-force and IVF top-k
      // twins as CTEs, overlap counted per query
      val probeList = "[bucket" + (0 until 8).map(b => s", xor(bucket, ${1L << b})").mkString + "]"
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM $embs),
         |q0 AS (SELECT vec_id AS q_id, v AS q_v FROM e WHERE vec_id < 5),
         |bf AS (SELECT q_id, vec_id FROM (
         |  SELECT q0.q_id, e.vec_id,
         |    row_number() OVER (PARTITION BY q0.q_id
         |      ORDER BY round(${cosSql("q0.q_v", "e.v")}, 4) DESC, e.vec_id ASC) AS rn
         |  FROM e JOIN q0 ON e.vec_id <> q0.q_id) WHERE rn <= 10),
         |sig AS (SELECT vec_id, v, ${srpBand("v", 0, 8)} AS bucket FROM e),
         |qp AS (SELECT vec_id AS q_id, v AS q_v, unnest($probeList) AS q_bucket
         |  FROM sig WHERE vec_id < 5),
         |iv AS (SELECT q_id, vec_id FROM (
         |  SELECT qp.q_id, s.vec_id,
         |    row_number() OVER (PARTITION BY qp.q_id
         |      ORDER BY round(${cosSql("qp.q_v", "s.v")}, 4) DESC, s.vec_id ASC) AS rn
         |  FROM sig s JOIN qp ON s.bucket = qp.q_bucket AND s.vec_id <> qp.q_id)
         |  WHERE rn <= 10)
         |SELECT bf.q_id, count(*) AS n_exact,
         |  CAST(count(iv.vec_id) AS BIGINT) AS n_overlap,
         |  round(count(iv.vec_id)::DOUBLE / count(*), 6) AS recall_at_k
         |FROM bf LEFT JOIN iv ON bf.q_id = iv.q_id AND bf.vec_id = iv.vec_id
         |GROUP BY bf.q_id""".stripMargin
    },
    "sim_ivf_probe_curve" -> {
      // twin of Similarity.ivfProbeCurve (nQueries=5, k=10, nBits=8,
      // maxHamming=2): the brute-force baseline once, then per probe
      // radius its own probe-expanded candidate join — candidate count,
      // scan fraction vs the 5·(N−1) brute-force volume, and macro
      // recall, each closed with the same two rounded divisions
      val nBits = 8
      def masksUpTo(h: Int): Seq[Long] =
        (0 to h).flatMap(d => (0 until nBits).combinations(d)
          .map(_.foldLeft(0L)((m, b) => m | (1L << b))).toSeq)
      val rows = (0 to 2).map { h =>
        val probeList = "[" + masksUpTo(h).map {
          case 0L => "bucket"
          case m => s"xor(bucket, $m)"
        }.mkString(", ") + "]"
        s"""qp$h AS (SELECT vec_id AS q_id, v AS q_v, unnest($probeList) AS q_bucket
           |  FROM sig WHERE vec_id < 5),
           |sc$h AS MATERIALIZED (SELECT qp.q_id, s.vec_id,
           |  round(${cosSql("qp.q_v", "s.v")}, 4) AS cos_sim
           |  FROM sig s JOIN qp$h qp ON s.bucket = qp.q_bucket AND s.vec_id <> qp.q_id),
           |c$h AS (SELECT CAST(count(*) AS BIGINT) AS n_candidates FROM sc$h),
           |tk$h AS (SELECT q_id, vec_id FROM (
           |  SELECT q_id, vec_id, row_number() OVER (PARTITION BY q_id
           |    ORDER BY cos_sim DESC, vec_id ASC) AS rn FROM sc$h) WHERE rn <= 10),
           |o$h AS (SELECT CAST(count(*) AS BIGINT) AS n_exact,
           |  CAST(count(tk.vec_id) AS BIGINT) AS n_overlap
           |  FROM bf LEFT JOIN tk$h tk
           |  ON bf.q_id = tk.q_id AND bf.vec_id = tk.vec_id)""".stripMargin
      }.mkString(",\n")
      val curve = (0 to 2).map { h =>
        val nProbes = masksUpTo(h).size
        s"""SELECT CAST($h AS BIGINT) AS probe_hamming,
           |  CAST($nProbes AS BIGINT) AS n_probes, n_candidates,
           |  round(CAST(n_candidates AS DOUBLE)
           |    / (5.0 * CAST(n_corpus - 1 AS DOUBLE)), 6) AS scan_frac,
           |  n_overlap, n_exact,
           |  round(CAST(n_overlap AS DOUBLE) / CAST(n_exact AS DOUBLE), 6)
           |    AS recall_at_k
           |FROM o$h CROSS JOIN c$h CROSS JOIN nc""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM $embs),
         |sig AS MATERIALIZED (SELECT vec_id, v, ${srpBand("v", 0, nBits)} AS bucket FROM e),
         |nc AS (SELECT CAST(count(*) AS BIGINT) AS n_corpus FROM e),
         |q0 AS (SELECT vec_id AS q_id, v AS q_v FROM e WHERE vec_id < 5),
         |bf AS MATERIALIZED (SELECT q_id, vec_id FROM (
         |  SELECT q0.q_id, e.vec_id,
         |    row_number() OVER (PARTITION BY q0.q_id
         |      ORDER BY round(${cosSql("q0.q_v", "e.v")}, 4) DESC, e.vec_id ASC) AS rn
         |  FROM e JOIN q0 ON e.vec_id <> q0.q_id) WHERE rn <= 10),
         |$rows,
         |curve AS ($curve)
         |SELECT * FROM curve""".stripMargin
    },
    "sim_threshold_histogram" -> {
      // twin of Similarity.thresholdHistogram: the srp_neardup candidate
      // CTE with the verify filter OPEN, bucketed at 0.1 grain — both
      // engines floor the SAME rounded double, so bins agree bit-for-bit
      val bandSelects = (0 until 4).map { b =>
        s"SELECT vec_id, CAST($b AS BIGINT) AS band_id, ${srpBand("v", b * srpBits, srpBits)} AS band_val FROM e"
      }.mkString("\n  UNION ALL ")
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM $embs),
         |bands AS ($bandSelects),
         |cand AS (SELECT DISTINCT l.vec_id AS vec_a, r.vec_id AS vec_b
         |  FROM bands l JOIN bands r
         |  ON l.band_id = r.band_id AND l.band_val = r.band_val AND l.vec_id < r.vec_id),
         |p AS (SELECT round(${cosSql("a.v", "b.v")}, 4) AS cos_sim
         |  FROM cand JOIN e a ON a.vec_id = vec_a JOIN e b ON b.vec_id = vec_b)
         |SELECT CAST(floor(cos_sim * 10) AS BIGINT) AS cos_bin, count(*) AS n_pairs
         |FROM p GROUP BY cos_bin""".stripMargin
    },
    "sim_bucket_centroids" ->
      // twin of Similarity.bucketCentroids(nBits=8): DECIMAL component
      // sums are exact and order-independent, so the single double
      // divide+round lands on identical bits in both engines; DuckDB's
      // 1-based subscripts shift to Spark's 0-based pos
      s"""WITH $centroidCtes
         |SELECT bucket, CAST(pos AS BIGINT) AS pos,
         |  round(CAST(s AS DOUBLE) / cnt, 6) AS mean_comp, cnt AS n_vecs
         |FROM a""".stripMargin,
    "sim_centroid_assign" ->
      // twin of Similarity.centroidAssign(nBits=8): same centroid CTEs,
      // then every vector scored against every centroid (the centroid
      // side is O(buckets)) and ranked (cos DESC, bucket ASC) — the
      // heap's argmax order
      s"""WITH $centroidCtes,
         |cv AS (SELECT bucket, list(round(CAST(s AS DOUBLE) / cnt, 6) ORDER BY pos) AS cv
         |  FROM a GROUP BY bucket),
         |scored AS (SELECT e.vec_id, cv.bucket,
         |  round(${cosSql("e.v", "cv.cv")}, 4) AS cos_sim FROM e, cv)
         |SELECT vec_id, bucket, cos_sim FROM (
         |  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cos_sim DESC, bucket ASC) AS rn
         |  FROM scored) WHERE rn <= 1""".stripMargin,
    "sim_ivf_append" ->
      // twin of Similarity.ivfAppend(batchMod=8, nBits=8): standing/new
      // split on the engine-neutral coin, standing-only decimal-exact
      // centroids, nearest-existing-centroid assignment of the batch
      // ((cos DESC, bucket ASC) — the heap's argmax order), merged
      // post-append means, growth + centroid-drift report per bucket
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM $embs),
         |st AS (SELECT * FROM e WHERE ${h60("CAST(vec_id AS VARCHAR)")} % 8 <> 0),
         |fr AS (SELECT * FROM e WHERE ${h60("CAST(vec_id AS VARCHAR)")} % 8 = 0),
         |sg AS (SELECT CAST(${srpBand("v", 0, 8)} AS BIGINT) AS bucket, v FROM st),
         |x0 AS (SELECT bucket, generate_subscripts(v, 1) - 1 AS pos, unnest(v) AS comp FROM sg),
         |a0 AS (SELECT bucket, pos, sum(CAST(comp AS DECIMAL(27,10))) AS s, count(*) AS cnt
         |  FROM x0 GROUP BY bucket, pos),
         |cv0 AS (SELECT bucket, list(round(CAST(s AS DOUBLE) / cnt, 6) ORDER BY pos) AS cv,
         |  max(cnt) AS n_standing FROM a0 GROUP BY bucket),
         |scored AS (SELECT fr.vec_id, cv0.bucket,
         |  round(${cosSql("fr.v", "cv0.cv")}, 4) AS cos_sim FROM fr, cv0),
         |asg AS (SELECT vec_id, bucket FROM (
         |  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cos_sim DESC, bucket ASC) AS rn
         |  FROM scored) WHERE rn <= 1),
         |mem AS (SELECT bucket, v FROM sg
         |  UNION ALL SELECT asg.bucket, fr.v FROM fr JOIN asg ON fr.vec_id = asg.vec_id),
         |x1 AS (SELECT bucket, generate_subscripts(v, 1) - 1 AS pos, unnest(v) AS comp FROM mem),
         |a1 AS (SELECT bucket, pos, sum(CAST(comp AS DECIMAL(27,10))) AS s, count(*) AS cnt
         |  FROM x1 GROUP BY bucket, pos),
         |cv1 AS (SELECT bucket, list(round(CAST(s AS DOUBLE) / cnt, 6) ORDER BY pos) AS cv1
         |  FROM a1 GROUP BY bucket),
         |app AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_appended FROM asg GROUP BY bucket)
         |SELECT cv0.bucket, cv0.n_standing,
         |  coalesce(app.n_appended, 0) AS n_appended,
         |  round(CAST(coalesce(app.n_appended, 0) AS DOUBLE) / cv0.n_standing, 6) AS growth,
         |  round(${cosSql("cv0.cv", "cv1.cv1")}, 4) AS cos_drift
         |FROM cv0 LEFT JOIN app ON app.bucket = cv0.bucket
         |JOIN cv1 ON cv1.bucket = cv0.bucket""".stripMargin,
    "sim_ivf_append_recall" -> {
      // twin of Similarity.ivfAppendRecall(batchMod=8, nBits=8, nQ=5,
      // k=10, nProbe=2): the stale post-append index (standing
      // centroids, batch routed to nearest existing bucket) and the
      // full retrain (centroids + routing recomputed over e), both
      // probed nearest-centroid top-2 and both recalled against the
      // exact brute-force top-k; candidate volume reported per variant
      def variantCtes(tag: String, cvT: String, memT: String): String =
        s"""sc$tag AS (SELECT q0.q_id, c.bucket,
           |  round(${cosSql("q0.q_v", "c.cv")}, 4) AS cos_sim FROM q0, $cvT c),
           |ps$tag AS (SELECT q_id, bucket FROM (
           |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, bucket ASC) AS rn
           |  FROM sc$tag) WHERE rn <= 2),
           |cand$tag AS (SELECT q0.q_id, m.vec_id,
           |  round(${cosSql("q0.q_v", "m.v")}, 4) AS cos_sim
           |  FROM $memT m JOIN ps$tag p ON p.bucket = m.bucket
           |  JOIN q0 ON q0.q_id = p.q_id WHERE m.vec_id <> q0.q_id),
           |ncand$tag AS (SELECT CAST(count(*) AS BIGINT) AS n_candidates FROM cand$tag),
           |top$tag AS (SELECT q_id, vec_id FROM (
           |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, vec_id ASC) AS rn
           |  FROM cand$tag) WHERE rn <= 10),
           |rec$tag AS (SELECT CAST(count(*) AS BIGINT) AS n_exact,
           |  CAST(count(t.vec_id) AS BIGINT) AS n_overlap
           |  FROM bf LEFT JOIN top$tag t ON t.q_id = bf.q_id AND t.vec_id = bf.vec_id)""".stripMargin
      def variantRow(tag: String, name: String): String =
        s"""SELECT '$name' AS variant,
           |  round(CAST(n_overlap AS DOUBLE) / n_exact, 6) AS recall_at_k,
           |  n_candidates,
           |  round(CAST(n_candidates AS DOUBLE)
           |    / (5.0 * CAST(n_corpus - 1 AS DOUBLE)), 6) AS scan_frac
           |FROM rec$tag CROSS JOIN ncand$tag CROSS JOIN nc""".stripMargin
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM $embs),
         |st AS (SELECT * FROM e WHERE ${h60("CAST(vec_id AS VARCHAR)")} % 8 <> 0),
         |fr AS (SELECT * FROM e WHERE ${h60("CAST(vec_id AS VARCHAR)")} % 8 = 0),
         |sg AS (SELECT CAST(${srpBand("v", 0, 8)} AS BIGINT) AS bucket, vec_id, v FROM st),
         |x0 AS (SELECT bucket, generate_subscripts(v, 1) - 1 AS pos, unnest(v) AS comp FROM sg),
         |a0 AS (SELECT bucket, pos, sum(CAST(comp AS DECIMAL(27,10))) AS s, count(*) AS cnt
         |  FROM x0 GROUP BY bucket, pos),
         |cvS AS (SELECT bucket, list(round(CAST(s AS DOUBLE) / cnt, 6) ORDER BY pos) AS cv
         |  FROM a0 GROUP BY bucket),
         |sgr AS (SELECT CAST(${srpBand("v", 0, 8)} AS BIGINT) AS bucket, vec_id, v FROM e),
         |xr AS (SELECT bucket, generate_subscripts(v, 1) - 1 AS pos, unnest(v) AS comp FROM sgr),
         |ar AS (SELECT bucket, pos, sum(CAST(comp AS DECIMAL(27,10))) AS s, count(*) AS cnt
         |  FROM xr GROUP BY bucket, pos),
         |cvR AS (SELECT bucket, list(round(CAST(s AS DOUBLE) / cnt, 6) ORDER BY pos) AS cv
         |  FROM ar GROUP BY bucket),
         |scA AS (SELECT fr.vec_id, c.bucket,
         |  round(${cosSql("fr.v", "c.cv")}, 4) AS cos_sim FROM fr, cvS c),
         |asg AS (SELECT vec_id, bucket FROM (
         |  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cos_sim DESC, bucket ASC) AS rn
         |  FROM scA) WHERE rn <= 1),
         |memS AS (SELECT bucket, vec_id, v FROM sg
         |  UNION ALL SELECT asg.bucket, fr.vec_id, fr.v FROM fr JOIN asg ON fr.vec_id = asg.vec_id),
         |q0 AS (SELECT vec_id AS q_id, v AS q_v FROM e WHERE vec_id < 5),
         |nc AS (SELECT CAST(count(*) AS BIGINT) AS n_corpus FROM e),
         |bf AS MATERIALIZED (SELECT q_id, vec_id FROM (
         |  SELECT q0.q_id, e.vec_id,
         |    row_number() OVER (PARTITION BY q0.q_id
         |      ORDER BY round(${cosSql("q0.q_v", "e.v")}, 4) DESC, e.vec_id ASC) AS rn
         |  FROM e JOIN q0 ON e.vec_id <> q0.q_id) WHERE rn <= 10),
         |${variantCtes("s", "cvS", "memS")},
         |${variantCtes("r", "cvR", "sgr")}
         |${variantRow("s", "stale_append")}
         |UNION ALL
         |${variantRow("r", "retrained")}""".stripMargin
    },
    "sim_pq_append" ->
      // twin of Similarity.pqAppend(batchMod=8): standing/new split on
      // the engine-neutral coin; STALE codebook = one Lloyd step over
      // the standing decomposition only (seed SRP-mean codebook →
      // reassign → means — seedCbvCtes + the parameterized step);
      // RETRAINED codebook = the shared pqLloydCtes chain over the full
      // corpus (literally sim_pq_lloyd's lcbv, so trainer drift is
      // impossible); the batch encodes against each (nearest entry by
      // rounded d², ties to the smaller code — the step CTE's assigned
      // d2 IS the reconstruction SSE); per-subspace DECIMAL MSE report
      s"""WITH $pqLloydCtes,
         |es AS (SELECT * FROM e WHERE ${h60("CAST(vec_id AS VARCHAR)")} % 8 <> 0),
         |ef AS (SELECT * FROM e WHERE ${h60("CAST(vec_id AS VARCHAR)")} % 8 = 0),
         |${pqDecompCte("es", "pqs")},
         |${pqDecompCte("ef", "pqf")},
         |${seedCbvCtes("pqs", "st")},
         |${lloydStepCtes("stcbv0", "st", "pqs")},
         |${lloydStepCtes("stcbv", "fs", "pqf")},
         |${lloydStepCtes("lcbv", "fr2", "pqf")},
         |ne AS (SELECT sub, CAST(count(*) AS BIGINT) AS n_entries
         |  FROM stcbv GROUP BY sub),
         |sa2 AS (SELECT sub, CAST(count(*) AS BIGINT) AS n_appended,
         |  sum(CAST(d2 AS DECIMAL(27,10))) AS sse_s FROM fsassigned GROUP BY sub),
         |ra2 AS (SELECT sub, sum(CAST(d2 AS DECIMAL(27,10))) AS sse_r
         |  FROM fr2assigned GROUP BY sub),
         |cc AS (SELECT sub, max(nc) AS max_code, sum(nc) AS n_tot FROM (
         |  SELECT sub, code, count(*) AS nc FROM fsassigned GROUP BY sub, code)
         |  GROUP BY sub)
         |SELECT ne.sub, ne.n_entries, sa2.n_appended,
         |  round(CAST(sse_s AS DOUBLE) / n_appended, 6) AS mse_stale,
         |  round(CAST(sse_r AS DOUBLE) / n_appended, 6) AS mse_retrained,
         |  round(CAST(sse_s - sse_r AS DOUBLE) / n_appended, 6) AS mse_excess,
         |  round(CAST(max_code AS DOUBLE) / n_tot, 6) AS top_code_share
         |FROM ne JOIN sa2 ON sa2.sub = ne.sub JOIN ra2 ON ra2.sub = ne.sub
         |JOIN cc ON cc.sub = ne.sub""".stripMargin,
    "sim_index_roundtrip" ->
      // twin of Similarity.indexRoundtrip(batchMod=8, nBits=8): the
      // Spark side trains the standing artifacts, WRITES them to
      // parquet, LOADS them back and serves the batch from the loaded
      // tables; this twin re-derives the identical serve from the raw
      // corpus with no persistence step at all — a hash match is the
      // load-equivalence proof. Coarse half = sim_ivf_append's
      // standing-centroid + argmax CTEs (cos_sim carried through);
      // fine half = sim_pq_append's standing-codebook chain
      // (seedCbvCtes + one Lloyd step) with the batch encoded against
      // it (the step CTE's assigned d2 IS the reconstruction SSE).
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM $embs),
         |st AS (SELECT * FROM e WHERE ${h60("CAST(vec_id AS VARCHAR)")} % 8 <> 0),
         |fr AS (SELECT * FROM e WHERE ${h60("CAST(vec_id AS VARCHAR)")} % 8 = 0),
         |sg AS (SELECT CAST(${srpBand("v", 0, 8)} AS BIGINT) AS bucket, v FROM st),
         |x0 AS (SELECT bucket, generate_subscripts(v, 1) - 1 AS pos, unnest(v) AS comp FROM sg),
         |a0 AS (SELECT bucket, pos, sum(CAST(comp AS DECIMAL(27,10))) AS s, count(*) AS cnt
         |  FROM x0 GROUP BY bucket, pos),
         |cv0 AS (SELECT bucket, list(round(CAST(s AS DOUBLE) / cnt, 6) ORDER BY pos) AS cv
         |  FROM a0 GROUP BY bucket),
         |scored AS (SELECT fr.vec_id, cv0.bucket,
         |  round(${cosSql("fr.v", "cv0.cv")}, 4) AS cos_sim FROM fr, cv0),
         |asg AS (SELECT vec_id, bucket, cos_sim FROM (
         |  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cos_sim DESC, bucket ASC) AS rn
         |  FROM scored) WHERE rn <= 1),
         |${pqDecompCte("st", "pqs")},
         |${pqDecompCte("fr", "pqf")},
         |${seedCbvCtes("pqs", "st")},
         |${lloydStepCtes("stcbv0", "st", "pqs")},
         |${lloydStepCtes("stcbv", "fs", "pqf")}
         |SELECT a.vec_id, a.bucket, a.cos_sim, f.sub, f.code, f.d2
         |FROM asg a JOIN fsassigned f ON f.vec_id = a.vec_id""".stripMargin,
    "sim_hubness" ->
      // twin of Similarity.hubnessAudit (k=5): all-pairs knn rank (the
      // block grid covers the pair space exactly), in-degree count,
      // LEFT join for the explicit antihub zero bucket, histogram
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM $embs),
         |gs AS (SELECT a.vec_id AS src_id, b.vec_id AS nbr_id,
         |  round(${cosSql("a.v", "b.v")}, 4) AS cos_sim
         |  FROM e a JOIN e b ON a.vec_id <> b.vec_id),
         |g AS (SELECT src_id, nbr_id FROM (
         |  SELECT *, row_number() OVER (PARTITION BY src_id
         |    ORDER BY cos_sim DESC, nbr_id ASC) AS rn
         |  FROM gs) WHERE rn <= 5),
         |indeg AS (SELECT nbr_id, count(*) AS k_occ FROM g GROUP BY nbr_id)
         |SELECT coalesce(i.k_occ, 0) AS k_occurrence, count(*) AS n_vecs
         |FROM e LEFT JOIN indeg i ON i.nbr_id = e.vec_id
         |GROUP BY 1""".stripMargin,
    "sim_hubness_descent" ->
      // twin of Similarity.hubnessDescent (k=5): the sim_knn_descent
      // chain verbatim, then the sim_hubness in-degree histogram with
      // the explicit antihub zero bucket
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM $embs),
         |${knnDescentChain(5)},
         |indeg AS (SELECT nbr_id, count(*) AS k_occ FROM g3 GROUP BY nbr_id)
         |SELECT coalesce(i.k_occ, 0) AS k_occurrence, count(*) AS n_vecs
         |FROM e LEFT JOIN indeg i ON i.nbr_id = e.vec_id
         |GROUP BY 1""".stripMargin,
    "sim_hubness_descent_sq8" ->
      // twin of Similarity.hubnessDescentSq8: the sq8 descent chain,
      // then the same in-degree histogram with the antihub zero bucket
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM $embs),
         |${knnDescentChain(5, sq8 = true)},
         |indeg AS (SELECT nbr_id, count(*) AS k_occ FROM g3 GROUP BY nbr_id)
         |SELECT coalesce(i.k_occ, 0) AS k_occurrence, count(*) AS n_vecs
         |FROM e LEFT JOIN indeg i ON i.nbr_id = e.vec_id
         |GROUP BY 1""".stripMargin,
    "sim_graph_ann_topk" ->
      // twin of Similarity.graphAnnTopK (nQ=5, k=10, beam=16, hops=4,
      // entryMod=16, knnK=8, maxEntries=64): the knn-graph CTE is the
      // plain all-pairs rank (the block grid covers the pair space
      // exactly); the shared beamSearchCtes walk it
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM $embs),
         |gs AS (SELECT a.vec_id AS src_id, b.vec_id AS nbr_id,
         |  round(${cosSql("a.v", "b.v")}, 4) AS cos_sim
         |  FROM e a JOIN e b ON a.vec_id <> b.vec_id),
         |g AS MATERIALIZED (SELECT src_id, nbr_id FROM (
         |  SELECT *, row_number() OVER (PARTITION BY src_id
         |    ORDER BY cos_sim DESC, nbr_id ASC) AS rn
         |  FROM gs) WHERE rn <= 8),
         |${beamSearchCtes}
         |SELECT q_id, vec_id, cos_sim FROM (
         |  SELECT *, row_number() OVER (PARTITION BY q_id
         |    ORDER BY cos_sim DESC, vec_id ASC) AS rn
         |  FROM bb4) WHERE rn <= 10""".stripMargin,
    "sim_silhouette" ->
      // twin of Similarity.silhouette(nBits=8): centroid lists from the
      // shared decimal-exact CTEs, every vector scored against every
      // centroid, conditional-MIN a/b per vector (round 6 before the
      // silhouette expression), DECIMAL(38,12) per-bucket means
      s"""WITH $centroidCtes,
         |cv AS (SELECT bucket, list(round(CAST(s AS DOUBLE) / cnt, 6) ORDER BY pos) AS cv
         |  FROM a GROUP BY bucket),
         |pv AS MATERIALIZED (SELECT vec_id, v,
         |  CAST(${srpBand("v", 0, 8)} AS BIGINT) AS own FROM e),
         |scored AS (SELECT pv.vec_id, pv.own, cv.bucket,
         |  CAST(1.0 AS DOUBLE) - round(${cosSql("pv.v", "cv.cv")}, 4) AS dist
         |  FROM pv, cv),
         |per AS (SELECT vec_id, own,
         |  round(min(CASE WHEN bucket = own THEN dist END), 6) AS a,
         |  round(min(CASE WHEN bucket <> own THEN dist END), 6) AS b
         |  FROM scored GROUP BY vec_id, own),
         |sil AS (SELECT vec_id, own, a, b,
         |  round(CASE WHEN greatest(a, b) > 0 THEN (b - a) / greatest(a, b)
         |    ELSE CAST(0 AS DOUBLE) END, 6) AS sil
         |  FROM per)
         |SELECT own AS bucket, count(*) AS n_vecs,
         |  round(CAST(sum(CAST(sil AS DECIMAL(38,12))) AS DOUBLE) / count(*), 6)
         |    AS mean_silhouette,
         |  round(CAST(sum(CAST(a AS DECIMAL(38,12))) AS DOUBLE) / count(*), 6)
         |    AS mean_cohesion_dist,
         |  round(CAST(sum(CAST(b AS DECIMAL(38,12))) AS DOUBLE) / count(*), 6)
         |    AS mean_separation_dist
         |FROM sil GROUP BY own""".stripMargin,
    "sim_lloyd_iteration" ->
      // twin of Similarity.lloydIteration(nBits=8): the assignment twin
      // as a CTE, then the decimal-exact mean recompute over the
      // ASSIGNED clusters
      s"""WITH $centroidCtes,
         |cv AS (SELECT bucket, list(round(CAST(s AS DOUBLE) / cnt, 6) ORDER BY pos) AS cv
         |  FROM a GROUP BY bucket),
         |scored AS (SELECT e.vec_id, cv.bucket,
         |  round(${cosSql("e.v", "cv.cv")}, 4) AS cos_sim FROM e, cv),
         |assigned AS (SELECT vec_id, bucket FROM (
         |  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cos_sim DESC, bucket ASC) AS rn
         |  FROM scored) WHERE rn <= 1),
         |x2 AS (SELECT g.bucket, generate_subscripts(e.v, 1) - 1 AS pos, unnest(e.v) AS comp
         |  FROM e JOIN assigned g ON e.vec_id = g.vec_id),
         |a2 AS (SELECT bucket, pos, sum(CAST(comp AS DECIMAL(27,10))) AS s, count(*) AS cnt
         |  FROM x2 GROUP BY bucket, pos)
         |SELECT bucket, CAST(pos AS BIGINT) AS pos,
         |  round(CAST(s AS DOUBLE) / cnt, 6) AS mean_comp, cnt AS n_vecs
         |FROM a2""".stripMargin,
    "sim_pq_codes" ->
      s"""WITH $pqCte
         |SELECT vec_id, sub, code FROM pq""".stripMargin,
    "sim_pq_codebooks" ->
      // twin of Similarity.pqCodebooks: per-(sub, code) mean subvector,
      // decimal-exact sums, 0-based component positions
      s"""WITH $pqCte,
         |$pqCodebookCtes
         |SELECT sub, code, pos, mean_comp, n_vecs FROM cb""".stripMargin,
    "sim_pq_recon_error" ->
      // twin of Similarity.pqReconError: squared deviations from the
      // ROUNDED codebook mean (identical double on both sides), summed
      // in decimal for an order-independent total
      s"""WITH $pqCte,
         |$pqCodebookCtes
         |SELECT x.sub, x.pos,
         |  round(CAST(sum(CAST((x.comp - cb.mean_comp) * (x.comp - cb.mean_comp)
         |    AS DECIMAL(27,10))) AS DOUBLE) / count(*), 6) AS mse,
         |  count(*) AS n_vecs
         |FROM x JOIN cb ON x.sub = cb.sub AND x.code = cb.code AND x.pos = cb.pos
         |GROUP BY x.sub, x.pos""".stripMargin,
    "sim_pq_adc_topk" ->
      // twin of Similarity.pqAdcTopK: per-query lookup table against the
      // codebook, decimal partial sums (exact under any agg order — the
      // 8 per-pair partials are bit-identical doubles on both engines),
      // same rank spec as every top-k twin
      s"""WITH $pqCte,
         |$pqCodebookCtes,
         |cbv AS (SELECT sub, code, list(mean_comp ORDER BY pos) AS cv
         |  FROM cb GROUP BY sub, code),
         |q AS (SELECT vec_id AS q_id, sub, sv AS qv FROM pq WHERE vec_id < 5),
         |lut AS (SELECT q_id, q.sub, cbv.code,
         |  CAST(list_sum(list_transform(range(8), i -> (qv)[i+1] * (cv)[i+1]))
         |    AS DECIMAL(27,10)) AS part
         |  FROM q JOIN cbv ON q.sub = cbv.sub),
         |scored AS (SELECT l.q_id, p.vec_id,
         |  round(CAST(sum(part) AS DOUBLE), 6) AS adc_score
         |  FROM pq p JOIN lut l ON p.sub = l.sub AND p.code = l.code
         |    AND p.vec_id <> l.q_id
         |  GROUP BY l.q_id, p.vec_id)
         |SELECT q_id, vec_id, adc_score FROM (
         |  SELECT *, row_number() OVER (PARTITION BY q_id
         |    ORDER BY adc_score DESC, vec_id ASC) AS rn
         |  FROM scored) WHERE rn <= 10""".stripMargin,
    "sim_ivfpq_topk" ->
      // twin of Similarity.ivfPqTopK: the shared ADC chain (see
      // [[ivfPqScoredCtes]]) ranked straight to the final top-k
      s"""WITH $ivfPqScoredCtes
         |SELECT q_id, vec_id, adc_score FROM (
         |  SELECT *, row_number() OVER (PARTITION BY q_id
         |    ORDER BY adc_score DESC, vec_id ASC) AS rn
         |  FROM scored) WHERE rn <= 10""".stripMargin,
    "sim_ivfpq_probe_curve" -> {
      // twin of Similarity.ivfPqProbeCurve (nQueries=5, k=10, nBits=8,
      // maxHamming=2): the shared PQ/codebook/LUT chain built once,
      // then per probe radius its own candidate prune + ADC scoring +
      // rank, overlapped against the float brute-force baseline
      val nBits = 8
      def masksUpTo(h: Int): Seq[Long] =
        (0 to h).flatMap(d => (0 until nBits).combinations(d)
          .map(_.foldLeft(0L)((m, b) => m | (1L << b))).toSeq)
      val legs = (0 to 2).map { h =>
        val probeList = "[" + masksUpTo(h).map {
          case 0L => "bucket"
          case m => s"xor(bucket, $m)"
        }.mkString(", ") + "]"
        s"""qp$h AS (SELECT vec_id AS q_id, unnest($probeList) AS q_bucket
           |  FROM sig WHERE vec_id < 5),
           |cand$h AS (SELECT qp.q_id, s.vec_id FROM sig s
           |  JOIN qp$h qp ON s.bucket = qp.q_bucket AND s.vec_id <> qp.q_id),
           |scored$h AS MATERIALIZED (SELECT c.q_id, p.vec_id,
           |  round(CAST(sum(part) AS DOUBLE), 6) AS adc_score
           |  FROM pq p JOIN cand$h c ON p.vec_id = c.vec_id
           |  JOIN lut l ON l.q_id = c.q_id AND p.sub = l.sub AND p.code = l.code
           |  GROUP BY c.q_id, p.vec_id),
           |c$h AS (SELECT CAST(count(*) AS BIGINT) AS n_candidates FROM scored$h),
           |tk$h AS (SELECT q_id, vec_id FROM (
           |  SELECT q_id, vec_id, row_number() OVER (PARTITION BY q_id
           |    ORDER BY adc_score DESC, vec_id ASC) AS rn FROM scored$h)
           |  WHERE rn <= 10),
           |o$h AS (SELECT CAST(count(*) AS BIGINT) AS n_exact,
           |  CAST(count(tk.vec_id) AS BIGINT) AS n_overlap
           |  FROM bf LEFT JOIN tk$h tk
           |  ON bf.q_id = tk.q_id AND bf.vec_id = tk.vec_id)""".stripMargin
      }.mkString(",\n")
      val rows = (0 to 2).map { h =>
        val nProbes = masksUpTo(h).size
        s"""SELECT CAST($h AS BIGINT) AS probe_hamming,
           |  CAST($nProbes AS BIGINT) AS n_probes, n_candidates,
           |  round(CAST(n_candidates AS DOUBLE)
           |    / (5.0 * CAST(n_corpus - 1 AS DOUBLE)), 6) AS scan_frac,
           |  n_overlap, n_exact,
           |  round(CAST(n_overlap AS DOUBLE) / CAST(n_exact AS DOUBLE), 6)
           |    AS recall_at_k
           |FROM o$h CROSS JOIN c$h CROSS JOIN nc""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH $pqCte,
         |$pqCodebookCtes,
         |cbv AS (SELECT sub, code, list(mean_comp ORDER BY pos) AS cv
         |  FROM cb GROUP BY sub, code),
         |sig AS MATERIALIZED (SELECT vec_id, ${srpBand("v", 0, 8)} AS bucket FROM e),
         |nc AS (SELECT CAST(count(*) AS BIGINT) AS n_corpus FROM sig),
         |q AS (SELECT vec_id AS q_id, sub, sv AS qv FROM pq WHERE vec_id < 5),
         |lut AS (SELECT q_id, q.sub, cbv.code,
         |  CAST(list_sum(list_transform(range(8), i -> (qv)[i+1] * (cv)[i+1]))
         |    AS DECIMAL(27,10)) AS part
         |  FROM q JOIN cbv ON q.sub = cbv.sub),
         |q0 AS (SELECT vec_id AS q_id, v AS q_v FROM e WHERE vec_id < 5),
         |bf AS MATERIALIZED (SELECT q_id, vec_id FROM (
         |  SELECT q0.q_id, e.vec_id,
         |    row_number() OVER (PARTITION BY q0.q_id
         |      ORDER BY round(${cosSql("q0.q_v", "e.v")}, 4) DESC, e.vec_id ASC) AS rn
         |  FROM e JOIN q0 ON e.vec_id <> q0.q_id) WHERE rn <= 10),
         |$legs,
         |curve AS ($rows)
         |SELECT * FROM curve""".stripMargin
    },
    "sim_ivfpq_rerank" ->
      // twin of Similarity.ivfPqRerank (shortlist=50, k=10): the shared
      // ADC chain ranked to the 50-candidate shortlist, exact cosine on
      // the shortlisted raw vectors (both sides fetched from e by id),
      // final rank on the exact score with the adc_score carried along
      s"""WITH $ivfPqScoredCtes,
         |sl AS (SELECT q_id, vec_id, adc_score FROM (
         |  SELECT *, row_number() OVER (PARTITION BY q_id
         |    ORDER BY adc_score DESC, vec_id ASC) AS rn
         |  FROM scored) WHERE rn <= 50),
         |rr AS (SELECT sl.q_id, sl.vec_id,
         |  round(${cosSql("qv.v", "cv2.v")}, 4) AS cos_sim, sl.adc_score
         |  FROM sl JOIN e cv2 ON cv2.vec_id = sl.vec_id
         |  JOIN e qv ON qv.vec_id = sl.q_id)
         |SELECT q_id, vec_id, cos_sim, adc_score FROM (
         |  SELECT *, row_number() OVER (PARTITION BY q_id
         |    ORDER BY cos_sim DESC, vec_id ASC) AS rn2
         |  FROM rr) WHERE rn2 <= 10""".stripMargin,
    "sim_ivfadc_topk" ->
      // twin of Similarity.ivfAdcTopK — residual-coded IVF-PQ: coarse
      // SRP bucket + rounded centroid means; residuals v − centroid
      // decomposed through the same PQ kernel; score = ⟨q, centroid⟩ +
      // Σ residual-LUT parts, all DECIMAL partials; the usual rank spec.
      // The 64-dim dot mirrors the codegen kernel's left-to-right order;
      // residual components are differences of engine-identical doubles.
      s"""WITH $ivfadcCtes
         |SELECT q_id, vec_id, adc_score FROM (
         |  SELECT *, row_number() OVER (PARTITION BY q_id
         |    ORDER BY adc_score DESC, vec_id ASC) AS rn
         |  FROM scored) WHERE rn <= 10""".stripMargin,
    "sim_ivfadc_recall" ->
      // twin of Similarity.ivfAdcRecall: the IVFADC scored CTE ranked,
      // overlapped per query against the brute-force top-k
      s"""WITH $ivfadcCtes,
         |bf AS (SELECT q_id, vec_id FROM (
         |  SELECT q0.q_id, e.vec_id,
         |    row_number() OVER (PARTITION BY q0.q_id
         |      ORDER BY round(${cosSql("q0.q_v", "e.v")}, 4) DESC, e.vec_id ASC) AS rn
         |  FROM e JOIN q0 ON e.vec_id <> q0.q_id) WHERE rn <= 10),
         |adc AS (SELECT q_id, vec_id FROM (
         |  SELECT *, row_number() OVER (PARTITION BY q_id
         |    ORDER BY adc_score DESC, vec_id ASC) AS rn
         |  FROM scored) WHERE rn <= 10)
         |SELECT bf.q_id, count(*) AS n_exact,
         |  CAST(count(adc.vec_id) AS BIGINT) AS ivfadc_overlap,
         |  round(count(adc.vec_id)::DOUBLE / count(*), 6) AS ivfadc_recall_at_k
         |FROM bf LEFT JOIN adc ON bf.q_id = adc.q_id AND bf.vec_id = adc.vec_id
         |GROUP BY bf.q_id""".stripMargin,
    "sim_pq_lloyd" ->
      // twin of Similarity.pqLloydCodebooks: nearest SEED codebook entry
      // per (vector, subspace) by squared L2 (d² = <x,x> − 2<x,c> + <c,c>,
      // the same dot kernel and fp order as Spark, rounded to 6; ties to
      // the smaller code = the heap's tiebreak), then the decimal-exact
      // mean recompute over the new assignment — the shared chain
      s"""WITH $pqLloydCtes
         |SELECT sub, code, pos, mean_comp, n_vecs FROM lcb""".stripMargin,
    "sim_adc_trained_topk" ->
      // twin of Similarity.adcTrainedTopK: the Lloyd chain's refined
      // codebook re-encodes the corpus (same d² fp order and
      // smaller-code tiebreak as the heap argmin), the per-query LUT is
      // rebuilt from refined entries, decimal partials, the usual rank
      s"""WITH $pqLloydCtes,
         |$trainedAdcCtes
         |SELECT q_id, vec_id, adc_score FROM (
         |  SELECT *, row_number() OVER (PARTITION BY q_id
         |    ORDER BY adc_score DESC, vec_id ASC) AS rn
         |  FROM tsc) WHERE rn <= 10""".stripMargin,
    "sim_pq_lloyd_chain" ->
      // twin of Similarity.pqLloydChain (iters=3): the one-step chain in
      // pqLloydCtes extended by two more generated steps, each feeding
      // the previous step's reassembled entry vectors
      s"""WITH $pqLloydCtes,
         |${lloydStepCtes("lcbv", "l2")},
         |${lloydStepCtes("l2cbv", "l3")}
         |SELECT sub, code, pos, mean_comp, n_vecs FROM l3cb""".stripMargin,
    "sim_pq_lloyd_trajectory" -> {
      // twin of Similarity.pqLloydTrajectory (iters=3): per-iteration
      // reconstruction MSE (mean assigned d2), surviving entry count,
      // and max entry L2 shift vs the previous iteration
      def mseSel(assigned: String) =
        s"(SELECT round(CAST(sum(CAST(d2 AS DECIMAL(27,10))) AS DOUBLE) / count(*), 6) FROM $assigned)"
      def shiftSel(prevV: String, curV: String) =
        s"""(SELECT max(round(sqrt(greatest(
           |    list_sum(list_transform(range(8), i -> (b.cv)[i+1] * (b.cv)[i+1]))
           |    - 2.0 * list_sum(list_transform(range(8), i -> (b.cv)[i+1] * (a.cv)[i+1]))
           |    + list_sum(list_transform(range(8), i -> (a.cv)[i+1] * (a.cv)[i+1])), 0.0)), 6))
           |  FROM $prevV b JOIN $curV a ON b.sub = a.sub AND b.code = a.code)""".stripMargin
      s"""WITH $pqLloydCtes,
         |${lloydStepCtes("lcbv", "l2")},
         |${lloydStepCtes("l2cbv", "l3")},
         |${lloydStepCtes("l3cbv", "l4")}
         |SELECT CAST(0 AS BIGINT) AS iter, ${mseSel("lassigned")} AS mse,
         |  (SELECT count(*) FROM cbv) AS n_entries,
         |  CAST(NULL AS DOUBLE) AS max_shift
         |UNION ALL
         |SELECT 1, ${mseSel("l2assigned")}, (SELECT count(*) FROM lcbv),
         |  ${shiftSel("cbv", "lcbv")}
         |UNION ALL
         |SELECT 2, ${mseSel("l3assigned")}, (SELECT count(*) FROM l2cbv),
         |  ${shiftSel("lcbv", "l2cbv")}
         |UNION ALL
         |SELECT 3, ${mseSel("l4assigned")}, (SELECT count(*) FROM l3cbv),
         |  ${shiftSel("l2cbv", "l3cbv")}""".stripMargin
    },
    "sim_pq_lloyd_shift" -> {
      // twin of Similarity.pqLloydShift: seed (cb) and refined (lcb)
      // codebooks reassembled, d2 in the shared dot composition,
      // clamped at 0 before the sqrt
      def dot8(a: String, b: String) =
        s"list_sum(list_transform(range(8), i -> ($a)[i+1] * ($b)[i+1]))"
      s"""WITH $pqLloydCtes,
         |cb0 AS (SELECT sub, code, list(mean_comp ORDER BY pos) AS v0,
         |  max(n_vecs) AS n0 FROM cb GROUP BY sub, code),
         |cb1 AS (SELECT sub, code, list(mean_comp ORDER BY pos) AS v1,
         |  max(n_vecs) AS n1 FROM lcb GROUP BY sub, code)
         |SELECT b.sub, b.code,
         |  CASE WHEN a.v1 IS NOT NULL THEN
         |    round(sqrt(greatest(${dot8("v0", "v0")} - 2.0 * ${dot8("v0", "v1")}
         |      + ${dot8("v1", "v1")}, 0.0)), 6) END AS l2_shift,
         |  b.n0 AS n_before, coalesce(a.n1, 0) AS n_after
         |FROM cb0 b LEFT JOIN cb1 a ON b.sub = a.sub AND b.code = a.code""".stripMargin
    },
    "sim_pq_trained_recall" ->
      // twin of Similarity.pqTrainedRecall: brute-force exact top-k vs
      // the SEED flat-ADC rank (sim_pq_adc_topk's chain over cbv) and
      // the TRAINED rank (tsc), overlaps per query side by side
      s"""WITH $pqLloydCtes,
         |$trainedAdcCtes,
         |q0 AS (SELECT vec_id AS q_id, v AS q_v FROM e WHERE vec_id < 5),
         |bf AS (SELECT q_id, vec_id FROM (
         |  SELECT q0.q_id, e.vec_id,
         |    row_number() OVER (PARTITION BY q0.q_id
         |      ORDER BY round(${cosSql("q0.q_v", "e.v")}, 4) DESC, e.vec_id ASC) AS rn
         |  FROM e JOIN q0 ON e.vec_id <> q0.q_id) WHERE rn <= 10),
         |slut AS (SELECT q_id, tq.sub, cbv.code,
         |  CAST(list_sum(list_transform(range(8), i -> (qv)[i+1] * (cv)[i+1]))
         |    AS DECIMAL(27,10)) AS part
         |  FROM tq JOIN cbv ON tq.sub = cbv.sub),
         |sadc AS (SELECT q_id, vec_id FROM (
         |  SELECT l.q_id, p.vec_id,
         |    row_number() OVER (PARTITION BY l.q_id
         |      ORDER BY round(CAST(sum(part) AS DOUBLE), 6) DESC, p.vec_id ASC) AS rn
         |  FROM pq p JOIN slut l ON p.sub = l.sub AND p.code = l.code
         |    AND p.vec_id <> l.q_id
         |  GROUP BY l.q_id, p.vec_id) WHERE rn <= 10),
         |tadc AS (SELECT q_id, vec_id FROM (
         |  SELECT *, row_number() OVER (PARTITION BY q_id
         |    ORDER BY adc_score DESC, vec_id ASC) AS rn
         |  FROM tsc) WHERE rn <= 10)
         |SELECT bf.q_id, count(*) AS n_exact,
         |  CAST(count(sadc.vec_id) AS BIGINT) AS seed_overlap,
         |  round(count(sadc.vec_id)::DOUBLE / count(*), 6) AS seed_recall_at_k,
         |  CAST(count(tadc.vec_id) AS BIGINT) AS trained_overlap,
         |  round(count(tadc.vec_id)::DOUBLE / count(*), 6) AS trained_recall_at_k
         |FROM bf LEFT JOIN sadc ON bf.q_id = sadc.q_id AND bf.vec_id = sadc.vec_id
         |LEFT JOIN tadc ON bf.q_id = tadc.q_id AND bf.vec_id = tadc.vec_id
         |GROUP BY bf.q_id""".stripMargin,
    "sim_pq_recall" -> {
      // twin of Similarity.pqRecall: brute-force, flat-ADC and IVF-PQ
      // top-k CTEs, both compressed paths' overlap per query
      val probeList = "[bucket" + (0 until 8).map(b => s", xor(bucket, ${1L << b})").mkString + "]"
      s"""WITH $pqCte,
         |$pqCodebookCtes,
         |cbv AS (SELECT sub, code, list(mean_comp ORDER BY pos) AS cv
         |  FROM cb GROUP BY sub, code),
         |q0 AS (SELECT vec_id AS q_id, v AS q_v FROM e WHERE vec_id < 5),
         |bf AS (SELECT q_id, vec_id FROM (
         |  SELECT q0.q_id, e.vec_id,
         |    row_number() OVER (PARTITION BY q0.q_id
         |      ORDER BY round(${cosSql("q0.q_v", "e.v")}, 4) DESC, e.vec_id ASC) AS rn
         |  FROM e JOIN q0 ON e.vec_id <> q0.q_id) WHERE rn <= 10),
         |q AS (SELECT vec_id AS q_id, sub, sv AS qv FROM pq WHERE vec_id < 5),
         |lut AS (SELECT q_id, q.sub, cbv.code,
         |  CAST(list_sum(list_transform(range(8), i -> (qv)[i+1] * (cv)[i+1]))
         |    AS DECIMAL(27,10)) AS part
         |  FROM q JOIN cbv ON q.sub = cbv.sub),
         |adc AS (SELECT q_id, vec_id FROM (
         |  SELECT l.q_id, p.vec_id,
         |    row_number() OVER (PARTITION BY l.q_id
         |      ORDER BY round(CAST(sum(part) AS DOUBLE), 6) DESC, p.vec_id ASC) AS rn
         |  FROM pq p JOIN lut l ON p.sub = l.sub AND p.code = l.code
         |    AND p.vec_id <> l.q_id
         |  GROUP BY l.q_id, p.vec_id) WHERE rn <= 10),
         |sig AS (SELECT vec_id, ${srpBand("v", 0, 8)} AS bucket FROM e),
         |qp AS (SELECT vec_id AS q_id, unnest($probeList) AS q_bucket
         |  FROM sig WHERE vec_id < 5),
         |cand AS (SELECT qp.q_id, s.vec_id FROM sig s
         |  JOIN qp ON s.bucket = qp.q_bucket AND s.vec_id <> qp.q_id),
         |ipq AS (SELECT q_id, vec_id FROM (
         |  SELECT c.q_id, p.vec_id,
         |    row_number() OVER (PARTITION BY c.q_id
         |      ORDER BY round(CAST(sum(part) AS DOUBLE), 6) DESC, p.vec_id ASC) AS rn
         |  FROM pq p JOIN cand c ON p.vec_id = c.vec_id
         |  JOIN lut l ON l.q_id = c.q_id AND p.sub = l.sub AND p.code = l.code
         |  GROUP BY c.q_id, p.vec_id) WHERE rn <= 10)
         |SELECT bf.q_id, count(*) AS n_exact,
         |  CAST(count(adc.vec_id) AS BIGINT) AS n_overlap,
         |  round(count(adc.vec_id)::DOUBLE / count(*), 6) AS recall_at_k,
         |  CAST(count(ipq.vec_id) AS BIGINT) AS ivfpq_overlap,
         |  round(count(ipq.vec_id)::DOUBLE / count(*), 6) AS ivfpq_recall_at_k
         |FROM bf LEFT JOIN adc ON bf.q_id = adc.q_id AND bf.vec_id = adc.vec_id
         |LEFT JOIN ipq ON bf.q_id = ipq.q_id AND bf.vec_id = ipq.vec_id
         |GROUP BY bf.q_id""".stripMargin
    },
    "sim_sq8_topk" ->
      // twin of Similarity.sq8TopK: per-dimension affine grid (min,
      // range/255), floor(x+0.5)-to-grid with [0,255] clamp, decode,
      // then the proven dot kernel + rank spec — every fp op composed
      // in Spark's order on the same doubles
      s"""WITH $sq8Ctes
         |SELECT q_id, vec_id, sq8_score FROM (
         |  SELECT *, row_number() OVER (PARTITION BY q_id
         |    ORDER BY sq8_score DESC, vec_id ASC) AS rn
         |  FROM sq8sc) WHERE rn <= 10""".stripMargin,
    "sim_sq8_recall" ->
      // twin of Similarity.sq8Recall: exact top-k by the same rounded
      // inner product, overlapped with the SQ8 ranking per query
      s"""WITH $sq8Ctes,
         |bf AS (SELECT q_id, vec_id FROM (
         |  SELECT sq.q_id, e.vec_id,
         |    row_number() OVER (PARTITION BY sq.q_id
         |      ORDER BY round(list_sum(list_transform(range(64),
         |        i -> (sq.q_v)[i+1] * (e.v)[i+1])), 6) DESC, e.vec_id ASC) AS rn
         |  FROM e JOIN sq ON e.vec_id <> sq.q_id) WHERE rn <= 10),
         |s8 AS (SELECT q_id, vec_id FROM (
         |  SELECT *, row_number() OVER (PARTITION BY q_id
         |    ORDER BY sq8_score DESC, vec_id ASC) AS rn
         |  FROM sq8sc) WHERE rn <= 10)
         |SELECT bf.q_id, count(*) AS n_exact,
         |  CAST(count(s8.vec_id) AS BIGINT) AS sq8_overlap,
         |  round(count(s8.vec_id)::DOUBLE / count(*), 6) AS sq8_recall_at_k
         |FROM bf LEFT JOIN s8 ON bf.q_id = s8.q_id AND bf.vec_id = s8.vec_id
         |GROUP BY bf.q_id""".stripMargin,
    "sim_bq_recall" ->
      // twin of Similarity.bqRecall (nQueries=5, k=10, shortlist=50):
      // per-dim midrange thresholds (order-free min/max, SAME op order
      // mn + (mx-mn)/2), two 32-bit packed sign words, XOR+bit_count
      // Hamming shortlist under (hamming asc, vec_id asc), exact-dot
      // re-rank rounded to 6, overlap vs the exact top-k
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM $embs),
         |sp AS (SELECT vec_id, g.i, v[g.i+1] AS comp
         |  FROM e CROSS JOIN (SELECT unnest(range(64)) AS i) g),
         |bt AS (SELECT i,
         |  min(comp) + (max(comp) - min(comp)) / CAST(2.0 AS DOUBLE) AS th
         |  FROM sp GROUP BY i),
         |btl AS (SELECT list(th ORDER BY i) AS thl FROM bt),
         |bits AS (SELECT vec_id, v,
         |  CAST(list_sum(list_transform(range(32), i ->
         |    CASE WHEN v[i+1] >= thl[i+1] THEN (1::BIGINT << i)
         |         ELSE 0::BIGINT END)) AS BIGINT) AS lo,
         |  CAST(list_sum(list_transform(range(32), i ->
         |    CASE WHEN v[i+33] >= thl[i+33] THEN (1::BIGINT << i)
         |         ELSE 0::BIGINT END)) AS BIGINT) AS hi
         |  FROM e CROSS JOIN btl),
         |qb AS (SELECT vec_id AS q_id, v AS q_v, lo AS qlo, hi AS qhi
         |  FROM bits WHERE vec_id < 5),
         |ham AS (SELECT qb.q_id, b.vec_id, qb.q_v, b.v,
         |  bit_count(xor(b.lo, qb.qlo)) + bit_count(xor(b.hi, qb.qhi)) AS hd
         |  FROM bits b JOIN qb ON b.vec_id <> qb.q_id),
         |sl AS (SELECT q_id, vec_id, q_v, v FROM (
         |  SELECT *, row_number() OVER (PARTITION BY q_id
         |    ORDER BY hd ASC, vec_id ASC) AS rn FROM ham) WHERE rn <= 50),
         |rr AS (SELECT q_id, vec_id FROM (
         |  SELECT q_id, vec_id, row_number() OVER (PARTITION BY q_id
         |    ORDER BY round(list_sum(list_transform(range(64),
         |      i -> (q_v)[i+1] * (v)[i+1])), 6) DESC, vec_id ASC) AS rn
         |  FROM sl) WHERE rn <= 10),
         |bf AS (SELECT q_id, vec_id FROM (
         |  SELECT q.q_id, e.vec_id,
         |    row_number() OVER (PARTITION BY q.q_id
         |      ORDER BY round(list_sum(list_transform(range(64),
         |        i -> (q.q_v)[i+1] * (e.v)[i+1])), 6) DESC, e.vec_id ASC) AS rn
         |  FROM e JOIN (SELECT vec_id AS q_id, v AS q_v FROM e
         |    WHERE vec_id < 5) q ON e.vec_id <> q.q_id) WHERE rn <= 10)
         |SELECT bf.q_id, count(*) AS n_exact,
         |  CAST(count(rr.vec_id) AS BIGINT) AS bq_overlap,
         |  round(count(rr.vec_id)::DOUBLE / count(*), 6) AS bq_recall_at_k
         |FROM bf LEFT JOIN rr ON bf.q_id = rr.q_id AND bf.vec_id = rr.vec_id
         |GROUP BY bf.q_id""".stripMargin,
    "sim_ivf_bq_topk" -> {
      // twin of Similarity.ivfBqTopK (nQueries=5, k=10, nBits=8,
      // probeHamming=1, shortlist=50): the sim_ivf_topk SRP bucket +
      // multi-probe pruning composed with the sim_bq_recall sign-code
      // Hamming shortlist and exact-dot re-rank
      val probeList = "[bucket" +
        (0 until 8).map(b => s", xor(bucket, ${1L << b})").mkString + "]"
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM $embs),
         |sp AS (SELECT vec_id, g.i, v[g.i+1] AS comp
         |  FROM e CROSS JOIN (SELECT unnest(range(64)) AS i) g),
         |bt AS (SELECT i,
         |  min(comp) + (max(comp) - min(comp)) / CAST(2.0 AS DOUBLE) AS th
         |  FROM sp GROUP BY i),
         |btl AS (SELECT list(th ORDER BY i) AS thl FROM bt),
         |bits AS (SELECT vec_id, v, ${srpBand("v", 0, 8)} AS bucket,
         |  CAST(list_sum(list_transform(range(32), i ->
         |    CASE WHEN v[i+1] >= thl[i+1] THEN (1::BIGINT << i)
         |         ELSE 0::BIGINT END)) AS BIGINT) AS lo,
         |  CAST(list_sum(list_transform(range(32), i ->
         |    CASE WHEN v[i+33] >= thl[i+33] THEN (1::BIGINT << i)
         |         ELSE 0::BIGINT END)) AS BIGINT) AS hi
         |  FROM e CROSS JOIN btl),
         |q AS (SELECT vec_id AS q_id, v AS q_v, lo AS qlo, hi AS qhi,
         |  unnest($probeList) AS q_bucket
         |  FROM bits WHERE vec_id < 5),
         |ham AS (SELECT q.q_id, b.vec_id, q.q_v, b.v,
         |  bit_count(xor(b.lo, q.qlo)) + bit_count(xor(b.hi, q.qhi)) AS hd
         |  FROM bits b JOIN q ON b.bucket = q.q_bucket AND b.vec_id <> q.q_id),
         |sl AS (SELECT q_id, vec_id, q_v, v FROM (
         |  SELECT *, row_number() OVER (PARTITION BY q_id
         |    ORDER BY hd ASC, vec_id ASC) AS rn FROM ham) WHERE rn <= 50)
         |SELECT q_id, vec_id, bq_score FROM (
         |  SELECT q_id, vec_id,
         |    round(list_sum(list_transform(range(64),
         |      i -> (q_v)[i+1] * (v)[i+1])), 6) AS bq_score,
         |    row_number() OVER (PARTITION BY q_id
         |      ORDER BY round(list_sum(list_transform(range(64),
         |        i -> (q_v)[i+1] * (v)[i+1])), 6) DESC, vec_id ASC) AS rn
         |  FROM sl) WHERE rn <= 10""".stripMargin
    },
    "sim_matryoshka_recall" -> {
      // twin of Similarity.matryoshkaRecall (nQueries=5, k=10, dims
      // 16/32/64): per prefix width, rank by the prefix inner product
      // rounded to 6 under (score desc, vec_id asc) and overlap against
      // the full-dim exact top-k; the 64-row is the 1.0 sanity anchor
      def prefDot(d: Int) =
        s"round(list_sum(list_transform(range($d), i -> (j.q_v)[i+1] * (j.v)[i+1])), 6)"
      val dimSelects = Seq(16, 32, 64).map { d =>
        s"""SELECT bf.q_id, CAST($d AS BIGINT) AS dim, count(*) AS n_exact,
           |  CAST(count(p.vec_id) AS BIGINT) AS prefix_overlap,
           |  round(count(p.vec_id)::DOUBLE / count(*), 6) AS prefix_recall_at_k
           |FROM bf LEFT JOIN (SELECT q_id, vec_id FROM (
           |  SELECT j.q_id, j.vec_id, row_number() OVER (PARTITION BY j.q_id
           |    ORDER BY ${prefDot(d)} DESC, j.vec_id ASC) AS rn FROM j)
           |  WHERE rn <= 10) p
           |ON bf.q_id = p.q_id AND bf.vec_id = p.vec_id
           |GROUP BY bf.q_id""".stripMargin
      }.mkString("\n", "\nUNION ALL\n", "")
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM $embs),
         |q AS (SELECT vec_id AS q_id, v AS q_v FROM e WHERE vec_id < 5),
         |j AS (SELECT q.q_id, e.vec_id, q.q_v, e.v FROM e
         |  JOIN q ON e.vec_id <> q.q_id),
         |bf AS (SELECT q_id, vec_id FROM (
         |  SELECT j.q_id, j.vec_id, row_number() OVER (PARTITION BY j.q_id
         |    ORDER BY ${prefDot(64)} DESC, j.vec_id ASC) AS rn FROM j)
         |  WHERE rn <= 10)$dimSelects""".stripMargin
    })

  /** Shared CTE chain of the SQ8 twins: per-dimension (min, range/255)
    * grid as two position-ordered lists, grid-decoded vectors, query
    * set, and the scored (q_id, vec_id, sq8_score) frame — each fp op
    * composed in exactly Similarity.sq8TopKFrom's order. */
  private lazy val sq8Ctes: String =
    s"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM $embs),
       |sp AS (SELECT vec_id, g.i, v[g.i+1] AS comp
       |  FROM e CROSS JOIN (SELECT unnest(range(64)) AS i) g),
       |sst AS (SELECT i, min(comp) AS mn,
       |  (max(comp) - min(comp)) / CAST(255.0 AS DOUBLE) AS sc
       |  FROM sp GROUP BY i),
       |stl AS (SELECT list(mn ORDER BY i) AS mnl, list(sc ORDER BY i) AS scl
       |  FROM sst),
       |sdec AS (SELECT vec_id, list_transform(range(64), i ->
       |    CASE WHEN scl[i+1] = 0 THEN mnl[i+1]
       |         ELSE mnl[i+1] + least(CAST(255.0 AS DOUBLE),
       |           greatest(CAST(0.0 AS DOUBLE),
       |             floor((v[i+1] - mnl[i+1]) / scl[i+1] + CAST(0.5 AS DOUBLE))))
       |           * scl[i+1] END) AS dv
       |  FROM e CROSS JOIN stl),
       |sq AS (SELECT vec_id AS q_id, v AS q_v FROM e WHERE vec_id < 5),
       |sq8sc AS (SELECT sq.q_id, sdec.vec_id,
       |  round(list_sum(list_transform(range(64),
       |    i -> (sq.q_v)[i+1] * (sdec.dv)[i+1])), 6) AS sq8_score
       |  FROM sdec JOIN sq ON sdec.vec_id <> sq.q_id)""".stripMargin

  // ---- graph ------------------------------------------------------------

  /** Shared CTE chain of the graph twins: the LSH near-dup pair set
    * (identical to the dedup_minhash_lsh_pairs twin) read as edges
    * (a < b), the symmetrized adjacency, and per-node degrees. */
  private lazy val graphCtes: String =
    s"""$minhashSigCte,
       |cand AS (SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
       |  FROM bands l JOIN bands r
       |  ON l.band_id = r.band_id AND l.band_hash = r.band_hash AND l.doc_id < r.doc_id),
       |jj AS (SELECT doc_a, doc_b, ${jac("wa.hb", "wb.hb")} AS jacc
       |  FROM cand JOIN ws wa ON wa.doc_id = doc_a JOIN ws wb ON wb.doc_id = doc_b),
       |edges AS (SELECT doc_a AS a, doc_b AS b FROM jj WHERE jacc >= 0.9),
       |adj AS (SELECT a AS src, b AS dst FROM edges
       |  UNION ALL SELECT b AS src, a AS dst FROM edges),
       |nodes AS (SELECT src AS node, count(*) AS deg FROM adj GROUP BY src)""".stripMargin

  /** Rounds of the registered LPA unroll (Graph.labelPropagation default). */
  private val LpaRounds = 4
  private val CorenessRounds = 8

  /** Synchronous-LPA CTE chain l0..l{LpaRounds} with the self-vote and
    * min-label tie-break — MATERIALIZED for the graph_kcore reason
    * (each round reads its predecessor twice; inlining would double the
    * LSH chain per round). Shared by graph_label_propagation and
    * graph_modularity. Requires $graphCtes in scope. */
  private lazy val lpaCtes: String = {
    val steps = (1 to LpaRounds).map { i =>
      s"""l$i AS MATERIALIZED (SELECT node, label FROM (
         |  SELECT node, label,
         |    row_number() OVER (PARTITION BY node ORDER BY cnt DESC, label ASC) AS rn
         |  FROM (SELECT node, label, count(*) AS cnt FROM (
         |    SELECT a.dst AS node, p.label FROM adjm a JOIN l${i - 1} p ON a.src = p.node
         |    UNION ALL SELECT node, label FROM l${i - 1}) GROUP BY node, label))
         |  WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""adjm AS MATERIALIZED (SELECT src, dst FROM adj),
       |l0 AS MATERIALIZED (SELECT node, node AS label FROM nodes),
       |$steps""".stripMargin
  }

  /** Unrolled iterated-h-index coreness rounds — twin of
    * Graph.corenessFrom's fixed unroll (c0 = degree; each round the
    * h-index max(least(rank, value)) of neighbor values under the
    * (value desc, src asc) total order). MATERIALIZED per round for
    * the graph_kcore reason. */
  private lazy val corenessCtes: String = {
    val steps = (1 to CorenessRounds).map { i =>
      s"""c$i AS MATERIALIZED (SELECT dst AS node, max(least(rn, nv)) AS cv
         |  FROM (SELECT a.dst, p.cv AS nv,
         |    row_number() OVER (PARTITION BY a.dst
         |      ORDER BY p.cv DESC, a.src ASC) AS rn
         |    FROM adjm a JOIN c${i - 1} p ON a.src = p.node)
         |  GROUP BY dst)""".stripMargin
    }.mkString(",\n")
    s"""adjm AS MATERIALIZED (SELECT src, dst FROM adj),
       |c0 AS MATERIALIZED (SELECT node, CAST(deg AS BIGINT) AS cv FROM nodes),
       |$steps""".stripMargin
  }

  private val graph: Map[String, String] = Map(
    "graph_rich_club" -> {
      // twin of Graph.richClub (k in 2,4,8,16,32): per threshold the
      // rich-node count, within-club edge count, and the density
      // 2*E_k/(N_k*(N_k-1)) in the SAME op order rounded to 6
      val rows = Seq(2, 4, 8, 16, 32).map { k =>
        s"""SELECT CAST($k AS BIGINT) AS k, nr.n_rich, er.e_rich,
           |  CASE WHEN nr.n_rich >= 2
           |    THEN round(er.e_rich * 2.0 / (nr.n_rich * (nr.n_rich - 1)), 6)
           |    ELSE 0.0 END AS phi
           |FROM (SELECT CAST(count(*) AS BIGINT) AS n_rich FROM nodes
           |  WHERE deg > $k) nr
           |CROSS JOIN (SELECT CAST(count(*) AS BIGINT) AS e_rich FROM edges e
           |  JOIN nodes na ON na.node = e.a AND na.deg > $k
           |  JOIN nodes nb ON nb.node = e.b AND nb.deg > $k) er""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH $graphCtes
         |$rows""".stripMargin
    },
    "graph_coreness" ->
      // twin of Graph.coreness (rounds=8): iterated neighborhood
      // h-index from the degree start; exact integers throughout, so
      // the only engine coupling is the shared total order
      s"""WITH $graphCtes,
         |$corenessCtes
         |SELECT n.node AS doc_id, CAST(n.deg AS BIGINT) AS degree,
         |  CAST(c.cv AS BIGINT) AS coreness
         |FROM nodes n JOIN c$CorenessRounds c ON c.node = n.node""".stripMargin,
    "graph_label_propagation" ->
      // twin of Graph.labelPropagation (rounds=4): synchronous LPA with
      // the self-vote and min-label tie-break, unrolled; MATERIALIZED
      // for the graph_kcore reason (each round reads its predecessor
      // twice — inlining would double the LSH chain per round)
      s"""WITH $graphCtes,
         |$lpaCtes
         |SELECT node AS doc_id, label AS community FROM l$LpaRounds""".stripMargin,
    "graph_modularity" ->
      // twin of Graph.modularity (LPA rounds=4): reuses the LPA unroll,
      // then per-community contribution e_c/m - (d_c/2m)^2 — integer
      // counts, the same two IEEE double ops + round(6)
      s"""WITH $graphCtes,
         |$lpaCtes,
         |lab AS MATERIALIZED (SELECT node, label AS community FROM l$LpaRounds),
         |mm AS (SELECT CAST(count(*) AS DOUBLE) AS m FROM edges),
         |degc AS (SELECT lab.community, CAST(count(*) AS BIGINT) AS n_nodes,
         |  CAST(sum(n.deg) AS BIGINT) AS deg_sum
         |  FROM nodes n JOIN lab ON lab.node = n.node GROUP BY lab.community),
         |intra AS (SELECT la.community, CAST(count(*) AS BIGINT) AS intra_edges
         |  FROM edges e JOIN lab la ON la.node = e.a JOIN lab lb ON lb.node = e.b
         |  WHERE la.community = lb.community GROUP BY la.community)
         |SELECT d.community, d.n_nodes, d.deg_sum,
         |  coalesce(i.intra_edges, CAST(0 AS BIGINT)) AS intra_edges,
         |  round(CAST(coalesce(i.intra_edges, 0) AS DOUBLE) / mm.m
         |    - (CAST(d.deg_sum AS DOUBLE) / (2 * mm.m))
         |      * (CAST(d.deg_sum AS DOUBLE) / (2 * mm.m)), 6) + 0.0 AS contribution
         |FROM degc d LEFT JOIN intra i ON i.community = d.community
         |CROSS JOIN mm""".stripMargin,
    "graph_assortativity" ->
      // twin of Graph.assortativity: five exact integer moment sums over
      // the degree-joined symmetrized edge list, then the mean/sqrt
      // Pearson formula in DOUBLE + round(6) — the rel_stats_agg
      // moments discipline
      s"""WITH $graphCtes,
         |dd AS (SELECT nj.deg AS dj, nk.deg AS dk FROM adj a
         |  JOIN nodes nj ON nj.node = a.src JOIN nodes nk ON nk.node = a.dst),
         |s AS (SELECT CAST(count(*) AS BIGINT) AS n2,
         |  CAST(sum(dj * dk) AS BIGINT) AS sjk,
         |  CAST(sum(dj) AS BIGINT) AS sj, CAST(sum(dk) AS BIGINT) AS sk,
         |  CAST(sum(dj * dj) AS BIGINT) AS sj2,
         |  CAST(sum(dk * dk) AS BIGINT) AS sk2 FROM dd)
         |SELECT n2 AS n_directed_edges,
         |  round((CAST(sjk AS DOUBLE) / n2
         |      - (CAST(sj AS DOUBLE) / n2) * (CAST(sk AS DOUBLE) / n2))
         |    / (sqrt(CAST(sj2 AS DOUBLE) / n2
         |        - (CAST(sj AS DOUBLE) / n2) * (CAST(sj AS DOUBLE) / n2))
         |      * sqrt(CAST(sk2 AS DOUBLE) / n2
         |        - (CAST(sk AS DOUBLE) / n2) * (CAST(sk AS DOUBLE) / n2))), 6)
         |    AS assortativity
         |FROM s""".stripMargin,
    "graph_adamic_adar" ->
      // twin of Graph.adamicAdar (maxDeg=64, topN=50): wedge self-join
      // on non-hub centers, per-wedge weight 1/ln(deg) rounded to 12 and
      // summed in DECIMAL (order-independent), existing edges anti'd
      // away, top 50 under the total order (score desc, a, b)
      s"""WITH $graphCtes,
         |adjd AS (SELECT a.src, a.dst, n.deg FROM adj a
         |  JOIN nodes n ON n.node = a.src WHERE n.deg <= 64),
         |wedges AS (SELECT l.dst AS x, r.dst AS y,
         |  CAST(round(1.0 / ln(l.deg), 12) AS DECIMAL(38,12)) AS w
         |  FROM adjd l JOIN adjd r ON l.src = r.src AND l.dst < r.dst),
         |scored AS (SELECT x, y, sum(w) AS aa_dec, count(*) AS n_common
         |  FROM wedges GROUP BY x, y),
         |nonedge AS (SELECT s.x, s.y, s.aa_dec, s.n_common FROM scored s
         |  WHERE NOT EXISTS (SELECT 1 FROM edges e WHERE e.a = s.x AND e.b = s.y))
         |SELECT x AS doc_a, y AS doc_b,
         |  round(CAST(aa_dec AS DOUBLE), 6) AS aa_score, n_common
         |FROM nonedge ORDER BY aa_score DESC, doc_a, doc_b LIMIT 50""".stripMargin,
    "graph_jaccard_neighbors" ->
      // twin of Graph.jaccardNeighbors (maxDeg=64, topN=50): the
      // adamic_adar wedge machinery with the normalized score —
      // |N(x)∩N(y)| via the hub-capped wedge count, the union via the
      // FULL degrees (cap prunes wedge generation, not the
      // denominator), one rounded division, existing edges anti'd
      // away, top 50 under (jaccard desc, a, b)
      s"""WITH $graphCtes,
         |adjd AS (SELECT a.src, a.dst FROM adj a
         |  JOIN nodes n ON n.node = a.src WHERE n.deg <= 64),
         |common AS (SELECT l.dst AS x, r.dst AS y, count(*) AS n_common
         |  FROM adjd l JOIN adjd r ON l.src = r.src AND l.dst < r.dst
         |  GROUP BY l.dst, r.dst),
         |scored AS (SELECT c.x, c.y, c.n_common,
         |  round(CAST(c.n_common AS DOUBLE)
         |    / (nx.deg + ny.deg - c.n_common), 6) AS nbr_jaccard
         |  FROM common c JOIN nodes nx ON nx.node = c.x
         |  JOIN nodes ny ON ny.node = c.y),
         |nonedge AS (SELECT s.x, s.y, s.nbr_jaccard, s.n_common FROM scored s
         |  WHERE NOT EXISTS (SELECT 1 FROM edges e WHERE e.a = s.x AND e.b = s.y))
         |SELECT x AS doc_a, y AS doc_b, nbr_jaccard, n_common
         |FROM nonedge ORDER BY nbr_jaccard DESC, doc_a, doc_b LIMIT 50""".stripMargin,
    "graph_degree_distribution" ->
      // twin of Graph.degreeDistribution
      s"""WITH $graphCtes
         |SELECT deg AS degree, count(*) AS n_nodes FROM nodes GROUP BY deg""".stripMargin,
    "graph_bfs_distance" ->
      // twin of Graph.bfsDistance (nSeeds=8, maxHops=3): seeds = the 8
      // smallest doc_ids, then 3 unrolled frontier expansions, each
      // MATERIALIZED (the graph_kcore reason: every level reads its
      // predecessor twice — the anti-join and the union)
      s"""WITH $graphCtes,
         |adjm AS MATERIALIZED (SELECT src, dst FROM adj),
         |v0 AS MATERIALIZED (SELECT doc_id AS node, CAST(0 AS BIGINT) AS hops
         |  FROM $docs ORDER BY doc_id LIMIT 8),
         |f1 AS MATERIALIZED (SELECT DISTINCT a.dst AS node FROM adjm a
         |  JOIN v0 p ON a.src = p.node
         |  WHERE NOT EXISTS (SELECT 1 FROM v0 v WHERE v.node = a.dst)),
         |v1 AS MATERIALIZED (SELECT node, hops FROM v0
         |  UNION ALL SELECT node, CAST(1 AS BIGINT) FROM f1),
         |f2 AS MATERIALIZED (SELECT DISTINCT a.dst AS node FROM adjm a
         |  JOIN f1 p ON a.src = p.node
         |  WHERE NOT EXISTS (SELECT 1 FROM v1 v WHERE v.node = a.dst)),
         |v2 AS MATERIALIZED (SELECT node, hops FROM v1
         |  UNION ALL SELECT node, CAST(2 AS BIGINT) FROM f2),
         |f3 AS MATERIALIZED (SELECT DISTINCT a.dst AS node FROM adjm a
         |  JOIN f2 p ON a.src = p.node
         |  WHERE NOT EXISTS (SELECT 1 FROM v2 v WHERE v.node = a.dst))
         |SELECT node AS doc_id, hops FROM v2
         |UNION ALL SELECT node, CAST(3 AS BIGINT) FROM f3""".stripMargin,
    "graph_harmonic" -> {
      // twin of Graph.harmonicCentrality (nSeeds=8, maxHops=3): the
      // graph_bfs_distance frontier sweep PER SEED (the betweenness
      // forward layers without sigma), per-layer 1/h rounded to 12,
      // summed in DECIMAL, closed with one round-6
      val hops = 3
      val fwd = (1 to hops).map { i =>
        s"""f$i AS MATERIALIZED (SELECT DISTINCT f.start, a.dst AS node
           |  FROM adjm a JOIN f${i - 1} f ON a.src = f.node
           |  WHERE NOT EXISTS (SELECT 1 FROM v${i - 1} v
           |    WHERE v.start = f.start AND v.node = a.dst)),
           |v$i AS MATERIALIZED (SELECT start, node FROM v${i - 1}
           |  UNION ALL SELECT start, node FROM f$i)""".stripMargin
      }.mkString(",\n")
      val contrib = (1 to hops).map { h =>
        s"""SELECT node, CAST(round(CAST(1.0 AS DOUBLE) / CAST($h AS DOUBLE), 12)
           |  AS DECIMAL(38,12)) AS c FROM f$h""".stripMargin
      }.mkString("\n  UNION ALL ")
      s"""WITH $graphCtes,
         |adjm AS MATERIALIZED (SELECT src, dst FROM adj),
         |f0 AS MATERIALIZED (SELECT doc_id AS start, doc_id AS node
         |  FROM $docs ORDER BY doc_id LIMIT 8),
         |v0 AS MATERIALIZED (SELECT start, node FROM f0),
         |$fwd,
         |cacc AS ($contrib),
         |g AS (SELECT node, CAST(count(*) AS BIGINT) AS n_sources_reached,
         |  round(CAST(sum(c) AS DOUBLE), 6) AS harmonic FROM cacc GROUP BY node)
         |SELECT n.node AS doc_id,
         |  coalesce(g.n_sources_reached, CAST(0 AS BIGINT)) AS n_sources_reached,
         |  coalesce(g.harmonic, CAST(0.0 AS DOUBLE)) AS harmonic
         |FROM nodes n LEFT JOIN g ON g.node = n.node""".stripMargin
    },
    "graph_closeness_sketch" -> {
      // twin of Graph.closenessSketch (maxHops=4, 64 registers): the
      // graph_hyperball register rounds, per-hop PER-NODE ball
      // estimates (same denominator/branch/round-4), telescoped
      // harmonic sum with 0-clamped DECIMAL deltas, round-8 /t terms
      // and a fixed-order 4-term double chain closed at round-6
      val hops = 4
      val mask = (1L << 54) - 1
      val pow = 1L << 55
      val rs = (1 to hops).map { i =>
        s"""r$i AS MATERIALIZED (SELECT node, reg, CAST(max(mj) AS BIGINT) AS mj
           |  FROM (SELECT a.dst AS node, r.reg, r.mj
           |      FROM adjm a JOIN r${i - 1} r ON r.node = a.src
           |    UNION ALL SELECT node, reg, mj FROM r${i - 1})
           |  GROUP BY node, reg)""".stripMargin
      }.mkString(",\n")
      val es = (0 to hops).map { h =>
        s"""g$h AS (SELECT node, 64 - n_regs AS n_zero,
           |    s_present + (64 - n_regs) * $pow AS s_scaled
           |  FROM (SELECT node, count(*) AS n_regs,
           |      CAST(sum(1::BIGINT << CAST(55 - mj AS INTEGER)) AS BIGINT) AS s_present
           |    FROM r$h GROUP BY node)),
           |e$h AS MATERIALIZED (SELECT node,
           |    CAST(round(CASE WHEN raw <= 160.0 AND n_zero > 0
           |      THEN 64.0 * ln(64.0 / CAST(n_zero AS DOUBLE)) ELSE raw END, 4)
           |      AS DECIMAL(20,4)) AS b$h
           |  FROM (SELECT node, n_zero,
           |      (${graft.operators.Graph.HbAlphaM2} * ${graft.operators.Graph.HbPow})
           |        / CAST(s_scaled AS DOUBLE) AS raw FROM g$h))""".stripMargin
      }.mkString(",\n")
      val joins = (1 to hops).map(h => s"JOIN e$h ON e$h.node = e0.node")
        .mkString("\n  ")
      val terms = (1 to hops).map { h =>
        s"round(greatest(CAST(0.0 AS DOUBLE), CAST(b$h - b${h - 1} AS DOUBLE)) / $h, 8)"
      }.mkString("\n    + ")
      s"""WITH $graphCtes,
         |adjm AS MATERIALIZED (SELECT src, dst FROM adj),
         |r0 AS MATERIALIZED (SELECT node, h >> 54 AS reg,
         |    CAST(CASE WHEN (h & $mask) = 0 THEN 55
         |      ELSE 55 - length(bin(h & $mask)) END AS BIGINT) AS mj
         |  FROM (SELECT node,
         |    ${h60("concat('hb|', CAST(node AS VARCHAR))")} AS h FROM nodes)),
         |$rs,
         |$es
         |SELECT e0.node AS doc_id,
         |  round(CAST(b$hops AS DOUBLE), 4) AS est_ball,
         |  round($terms, 6) AS est_harmonic
         |FROM e0
         |  $joins""".stripMargin
    },
    "graph_hyperball" -> {
      // twin of Graph.hyperBall (maxHops=4, 64 registers): per-node HLL
      // ball sketches advanced by register-wise max over neighbors, one
      // MATERIALIZED register frame per hop (the graph_kcore reason:
      // each hop reads its predecessor twice — the merge join and the
      // self union); per-node estimate follows the dedup_hll_distinct
      // branch at the 64-register grid (Σ 2^(55−mj) integer denominator,
      // linear counting below 2.5m with empty registers), rounded to 4
      // and summed in DECIMAL(20,4); supremum fraction and the 90%
      // effective-diameter flag off the 5-row curve
      val hops = 4
      val mask = (1L << 54) - 1 // 54-bit remainder of the 60-bit hash
      val pow = 1L << 55 // integer scale of the harmonic denominator
      val rs = (1 to hops).map { i =>
        s"""r$i AS MATERIALIZED (SELECT node, reg, CAST(max(mj) AS BIGINT) AS mj
           |  FROM (SELECT a.dst AS node, r.reg, r.mj
           |      FROM adjm a JOIN r${i - 1} r ON r.node = a.src
           |    UNION ALL SELECT node, reg, mj FROM r${i - 1})
           |  GROUP BY node, reg)""".stripMargin
      }.mkString(",\n")
      val bs = (0 to hops).map { h =>
        s"""g$h AS (SELECT 64 - n_regs AS n_zero,
           |    s_present + (64 - n_regs) * $pow AS s_scaled
           |  FROM (SELECT node, count(*) AS n_regs,
           |      CAST(sum(1::BIGINT << CAST(55 - mj AS INTEGER)) AS BIGINT) AS s_present
           |    FROM r$h GROUP BY node)),
           |b$h AS (SELECT CAST($h AS BIGINT) AS hops,
           |    CAST(count(*) AS BIGINT) AS n_nodes,
           |    sum(CAST(round(CASE WHEN raw <= 160.0 AND n_zero > 0
           |        THEN 64.0 * ln(64.0 / CAST(n_zero AS DOUBLE)) ELSE raw END, 4)
           |      AS DECIMAL(20,4))) AS pairs_dec
           |  FROM (SELECT n_zero,
           |      (${graft.operators.Graph.HbAlphaM2} * ${graft.operators.Graph.HbPow})
           |        / CAST(s_scaled AS DOUBLE) AS raw FROM g$h))""".stripMargin
      }.mkString(",\n")
      val curve = (0 to hops).map(h => s"SELECT * FROM b$h").mkString("\n  UNION ALL ")
      s"""WITH $graphCtes,
         |adjm AS MATERIALIZED (SELECT src, dst FROM adj),
         |r0 AS MATERIALIZED (SELECT node, h >> 54 AS reg,
         |    CAST(CASE WHEN (h & $mask) = 0 THEN 55
         |      ELSE 55 - length(bin(h & $mask)) END AS BIGINT) AS mj
         |  FROM (SELECT node,
         |    ${h60("concat('hb|', CAST(node AS VARCHAR))")} AS h FROM nodes)),
         |$rs,
         |$bs,
         |curve AS ($curve),
         |fr AS (SELECT hops, n_nodes,
         |    round(CAST(pairs_dec AS DOUBLE), 4) AS pairs_est,
         |    round(CAST(pairs_dec AS DOUBLE) / CAST(n_nodes AS DOUBLE), 4) AS avg_ball,
         |    round(CAST(pairs_dec AS DOUBLE)
         |      / CAST(max(pairs_dec) OVER () AS DOUBLE), 6) AS reached_frac
         |  FROM curve)
         |SELECT hops, n_nodes, pairs_est, avg_ball, reached_frac,
         |  hops = min(CASE WHEN reached_frac >= 0.9 THEN hops END) OVER ()
         |    AS is_eff_diameter
         |FROM fr""".stripMargin
    },
    "graph_betweenness" -> {
      // twin of Graph.betweenness (nSeeds=8, maxHops=3): forward BFS
      // layers with BIGINT σ sums, backward Brandes sweep with each
      // contribution rounded to 12 and summed in DECIMAL(38,12), layer
      // δ rounded to 8, per-node source sum in DECIMAL(27,10) rounded
      // to 6 — every frame MATERIALIZED (the graph_kcore reason: the
      // backward sweep reads each forward layer twice)
      val hops = 3
      val fwd = (1 to hops).map { i =>
        s"""f$i AS MATERIALIZED (SELECT f.start, a.dst AS node,
           |  CAST(sum(f.sigma) AS BIGINT) AS sigma
           |  FROM f${i - 1} f JOIN adjm a ON a.src = f.node
           |  WHERE NOT EXISTS (SELECT 1 FROM v${i - 1} v
           |    WHERE v.start = f.start AND v.node = a.dst)
           |  GROUP BY f.start, a.dst),
           |v$i AS MATERIALIZED (SELECT start, node FROM v${i - 1}
           |  UNION ALL SELECT start, node FROM f$i)""".stripMargin
      }.mkString(",\n")
      val bwd = ((hops - 1) to 1 by -1).map { h =>
        s"""c$h AS MATERIALIZED (SELECT f.start, f.node,
           |  round(CAST(sum(CAST(round(CAST(f.sigma AS DOUBLE) / w.sigma
           |      * (1 + dw.d), 12) AS DECIMAL(38,12))) AS DOUBLE), 8) AS dsum
           |  FROM f$h f JOIN adjm a ON a.src = f.node
           |  JOIN f${h + 1} w ON w.start = f.start AND w.node = a.dst
           |  JOIN d${h + 1} dw ON dw.start = f.start AND dw.node = a.dst
           |  GROUP BY f.start, f.node),
           |d$h AS MATERIALIZED (SELECT f.start, f.node,
           |  coalesce(c.dsum, CAST(0.0 AS DOUBLE)) AS d
           |  FROM f$h f LEFT JOIN c$h c
           |  ON c.start = f.start AND c.node = f.node)""".stripMargin
      }.mkString(",\n")
      val bunion = (1 to hops)
        .map(h => s"SELECT node, d FROM d$h").mkString("\n  UNION ALL ")
      s"""WITH $graphCtes,
         |adjm AS MATERIALIZED (SELECT src, dst FROM adj),
         |f0 AS MATERIALIZED (SELECT doc_id AS start, doc_id AS node,
         |  CAST(1 AS BIGINT) AS sigma FROM $docs ORDER BY doc_id LIMIT 8),
         |v0 AS MATERIALIZED (SELECT start, node FROM f0),
         |$fwd,
         |d$hops AS (SELECT start, node, CAST(0.0 AS DOUBLE) AS d FROM f$hops),
         |$bwd,
         |bacc AS ($bunion),
         |b AS (SELECT node,
         |  round(CAST(sum(CAST(d AS DECIMAL(27,10))) AS DOUBLE), 6) AS betweenness
         |  FROM bacc GROUP BY node)
         |SELECT n.node AS doc_id,
         |  coalesce(b.betweenness, CAST(0.0 AS DOUBLE)) AS betweenness
         |FROM nodes n LEFT JOIN b ON b.node = n.node""".stripMargin
    },
    "graph_ppr" -> {
      // twin of Graph.personalizedPageRank (iters=3, seedMod=16): the
      // graph_pagerank body with a seed-split restart term, LEFT sum
      // join (out-of-orbit nodes receive no mass), pr > 0 output;
      // MATERIALIZED iterates for the graph_kcore reason
      val iters = (1 to 3).map { i =>
        val prev = if (i == 1) "p0" else s"p${i - 1}"
        s"""c$i AS (SELECT a.dst, CAST(r.pr / r.deg AS DECIMAL(27,10)) AS c
           |  FROM adjm a JOIN $prev r ON a.src = r.node),
           |s$i AS (SELECT dst, sum(c) AS sc FROM c$i GROUP BY dst),
           |p$i AS MATERIALIZED (SELECT n.node, n.deg, n.is_seed,
           |  round(CASE WHEN n.is_seed THEN CAST(0.15 AS DOUBLE) / nn.ns
           |      ELSE CAST(0 AS DOUBLE) END
           |    + CAST(0.85 AS DOUBLE)
           |      * coalesce(CAST(s.sc AS DOUBLE), CAST(0 AS DOUBLE)), 8) AS pr
           |  FROM seeded n CROSS JOIN nn LEFT JOIN s$i s ON s.dst = n.node)""".stripMargin
      }.mkString(",\n")
      s"""WITH $graphCtes,
         |adjm AS MATERIALIZED (SELECT src, dst FROM adj),
         |seeded AS MATERIALIZED (SELECT node, deg,
         |  ${h60("CAST(node AS VARCHAR)")} % 16 = 0 AS is_seed FROM nodes),
         |nn AS (SELECT count(*) AS ns FROM seeded WHERE is_seed),
         |p0 AS MATERIALIZED (SELECT node, deg, is_seed,
         |  CASE WHEN is_seed THEN round(CAST(1.0 AS DOUBLE) / nn.ns, 8)
         |    ELSE CAST(0 AS DOUBLE) END AS pr
         |  FROM seeded CROSS JOIN nn),
         |$iters
         |SELECT node AS doc_id, is_seed, pr FROM p3 WHERE pr > 0""".stripMargin
    },
    "graph_random_walks" -> {
      // twin of Graph.randomWalks (steps=3): per step the argmin-by-
      // seeded-hash neighbor pick as row_number() = 1 under the same
      // (hash, neighbor) total order; MATERIALIZED per step for the
      // graph_kcore reason (each frontier feeds the next)
      val steps = 3
      val stepCtes = (1 to steps).map { t =>
        s"""w$t AS MATERIALIZED (SELECT start, node FROM (
           |  SELECT p.start, a.dst AS node, row_number() OVER (
           |    PARTITION BY p.start ORDER BY
           |      ${h60(s"concat(CAST(p.start AS VARCHAR), '#w$t#', CAST(a.dst AS VARCHAR))")} ASC,
           |      a.dst ASC) AS rn
           |  FROM w${t - 1} p JOIN adjm a ON a.src = p.node) WHERE rn = 1)""".stripMargin
      }.mkString(",\n")
      val sel = (0 to steps)
        .map(t => s"SELECT start, $t AS step, node FROM w$t")
        .mkString("\nUNION ALL ")
      s"""WITH $graphCtes,
         |adjm AS MATERIALIZED (SELECT src, dst FROM adj),
         |w0 AS MATERIALIZED (SELECT node AS start, node FROM nodes),
         |$stepCtes
         |$sel""".stripMargin
    },
    "graph_ktruss" -> {
      // twin of Graph.kTruss (k=4, rounds=2): fixed truss peels. Each
      // round's per-edge support comes from the DEGREE-ORDERED oriented
      // triangle list (the graph_local_clustering twin's shape — the
      // plain `edges x adj x adj` wedge join spills tens of GB on this
      // quasi-clique graph at sf0.1; the orientation bounds the wedge
      // fan-out by outdeg = O(sqrt E)): each triangle (u, x, y) charges
      // its three canonical edges once, edges below k-2 = 2 drop, and
      // the output recomputes support within the final survivor set
      // (LEFT join keeps a survivor whose support fell to 0).
      // MATERIALIZED per round for the graph_kcore fd-exhaustion reason.
      val rounds = 2
      def trussRound(i: Int, prevE: String) =
        s"""nm$i AS MATERIALIZED (SELECT src AS node, CAST(count(*) AS BIGINT) AS deg
           |  FROM (SELECT a AS src FROM $prevE UNION ALL SELECT b FROM $prevE)
           |  GROUP BY src),
           |or$i AS MATERIALIZED (SELECT
           |  CASE WHEN da < db OR (da = db AND a < b) THEN a ELSE b END AS u,
           |  CASE WHEN da < db OR (da = db AND a < b) THEN b ELSE a END AS v
           |  FROM (SELECT e.a, e.b, na.deg AS da, nb.deg AS db FROM $prevE e
           |    JOIN nm$i na ON na.node = e.a JOIN nm$i nb ON nb.node = e.b)),
           |tris$i AS MATERIALIZED (SELECT w.u, w.x, w.y FROM (
           |  SELECT o1.u AS u, o1.v AS x, o2.v AS y FROM or$i o1
           |  JOIN or$i o2 ON o1.u = o2.u AND o1.v < o2.v) w
           |  JOIN $prevE e ON e.a = w.x AND e.b = w.y),
           |sup$i AS MATERIALIZED (SELECT a, b, CAST(count(*) AS BIGINT) AS s
           |  FROM (SELECT least(u, x) AS a, greatest(u, x) AS b FROM tris$i
           |    UNION ALL SELECT least(u, y), greatest(u, y) FROM tris$i
           |    UNION ALL SELECT x, y FROM tris$i) GROUP BY 1, 2)""".stripMargin
      val peel = (1 to rounds).map { i =>
        val prevE = if (i == 1) "em" else s"e${i - 1}"
        s"""${trussRound(i, prevE)},
           |e$i AS MATERIALIZED (SELECT e.a, e.b FROM $prevE e
           |  JOIN sup$i s ON s.a = e.a AND s.b = e.b WHERE s.s >= 2)""".stripMargin
      }.mkString(",\n")
      s"""WITH $graphCtes,
         |em AS MATERIALIZED (SELECT a, b FROM edges),
         |$peel,
         |${trussRound(rounds + 1, s"e$rounds")}
         |SELECT e.a AS doc_a, e.b AS doc_b, coalesce(s.s, 0) AS support
         |FROM e$rounds e LEFT JOIN sup${rounds + 1} s
         |  ON s.a = e.a AND s.b = e.b""".stripMargin
    },
    "graph_kcore" -> {
      // twin of Graph.kCore (k=3, rounds=8): the fixed peel-round unroll
      // as a CTE chain — round i keeps nodes whose degree WITHIN round
      // i-1's survivors is >= k; output = within-core degrees of the
      // final survivor set, exactly as the Spark loop computes them
      // MATERIALIZED is load-bearing: each round references its
      // predecessor twice, so inlined CTEs would expand the LSH chain
      // 2^rounds times (observed as fd exhaustion on the parquet scan)
      val rounds = 8
      val peel = (1 to rounds).map { i =>
        s"""p$i AS MATERIALIZED (SELECT adjm.src AS node FROM adjm
           |  JOIN p${i - 1} a ON adjm.src = a.node
           |  JOIN p${i - 1} b ON adjm.dst = b.node
           |  GROUP BY adjm.src HAVING count(*) >= 3)""".stripMargin
      }.mkString(",\n")
      s"""WITH $graphCtes,
         |adjm AS MATERIALIZED (SELECT src, dst FROM adj),
         |p0 AS MATERIALIZED (SELECT node FROM nodes),
         |$peel
         |SELECT adjm.src AS doc_id, count(*) AS core_deg FROM adjm
         |  JOIN p$rounds a ON adjm.src = a.node
         |  JOIN p$rounds b ON adjm.dst = b.node
         |GROUP BY adjm.src""".stripMargin
    },
    "graph_triangle_census" ->
      // twin of Graph.triangleCensus: degree-ordered orientation, wedge
      // pairs canonicalized x < y probed against the undirected edge
      // set; wedge terms deg*(deg-1)/2 are exact integers in double on
      // both engines
      s"""WITH $graphCtes,
         |stats AS (SELECT count(*) AS n_nodes, CAST(sum(deg) / 2 AS BIGINT) AS n_edges,
         |  CAST(sum(deg * (deg - 1) / 2) AS BIGINT) AS n_wedges FROM nodes),
         |ed AS (SELECT e.a, e.b, na.deg AS da, nb.deg AS db FROM edges e
         |  JOIN nodes na ON na.node = e.a JOIN nodes nb ON nb.node = e.b),
         |oriented AS (SELECT
         |  CASE WHEN da < db OR (da = db AND a < b) THEN a ELSE b END AS u,
         |  CASE WHEN da < db OR (da = db AND a < b) THEN b ELSE a END AS v FROM ed),
         |wedges AS (SELECT o1.v AS x, o2.v AS y FROM oriented o1 JOIN oriented o2
         |  ON o1.u = o2.u AND o1.v < o2.v),
         |tri AS (SELECT count(*) AS n_triangles FROM wedges w
         |  JOIN edges e ON e.a = w.x AND e.b = w.y)
         |SELECT s.n_nodes, s.n_edges, s.n_wedges, t.n_triangles,
         |  round(CAST(3.0 AS DOUBLE) * t.n_triangles / s.n_wedges, 6) AS global_clustering
         |FROM stats s CROSS JOIN tri t""".stripMargin,
    "graph_triangle_sample" ->
      // twin of Graph.triangleSample: DOULION sparsification by the
      // deterministic hash60 coin (p = 1/2), then the exact census on
      // the kept edges; est = n_triangles * 2^3
      s"""WITH $graphCtes,
         |sedges AS (SELECT a, b FROM edges
         |  WHERE ${h60("concat(CAST(a AS VARCHAR), '|', CAST(b AS VARCHAR))")} % 2 = 0),
         |sadj AS (SELECT a AS src, b AS dst FROM sedges
         |  UNION ALL SELECT b AS src, a AS dst FROM sedges),
         |snodes AS (SELECT src AS node, count(*) AS deg FROM sadj GROUP BY src),
         |stats AS (SELECT count(*) AS n_nodes, CAST(sum(deg) / 2 AS BIGINT) AS n_edges,
         |  CAST(sum(deg * (deg - 1) / 2) AS BIGINT) AS n_wedges FROM snodes),
         |ed AS (SELECT e.a, e.b, na.deg AS da, nb.deg AS db FROM sedges e
         |  JOIN snodes na ON na.node = e.a JOIN snodes nb ON nb.node = e.b),
         |oriented AS (SELECT
         |  CASE WHEN da < db OR (da = db AND a < b) THEN a ELSE b END AS u,
         |  CASE WHEN da < db OR (da = db AND a < b) THEN b ELSE a END AS v FROM ed),
         |wedges AS (SELECT o1.v AS x, o2.v AS y FROM oriented o1 JOIN oriented o2
         |  ON o1.u = o2.u AND o1.v < o2.v),
         |tri AS (SELECT count(*) AS n_triangles FROM wedges w
         |  JOIN sedges e ON e.a = w.x AND e.b = w.y)
         |SELECT s.n_nodes, s.n_edges, s.n_wedges, t.n_triangles,
         |  round(CAST(3.0 AS DOUBLE) * t.n_triangles / s.n_wedges, 6) AS global_clustering,
         |  CAST(2 AS BIGINT) AS keep_mod,
         |  t.n_triangles * CAST(8 AS BIGINT) AS est_triangles
         |FROM stats s CROSS JOIN tri t""".stripMargin,
    "graph_local_clustering" ->
      // twin of Graph.localClustering: the census's degree-ordered
      // triangle list (each triangle once as (u, x, y)), each row
      // charged to its three corners, degrees LEFT-joined so
      // triangle-free nodes keep local_cc = 0
      s"""WITH $graphCtes,
         |em AS MATERIALIZED (SELECT a, b FROM edges),
         |nm AS MATERIALIZED (SELECT node, deg FROM nodes),
         |oriented AS MATERIALIZED (SELECT
         |  CASE WHEN da < db OR (da = db AND a < b) THEN a ELSE b END AS u,
         |  CASE WHEN da < db OR (da = db AND a < b) THEN b ELSE a END AS v
         |  FROM (SELECT e.a, e.b, na.deg AS da, nb.deg AS db FROM em e
         |    JOIN nm na ON na.node = e.a JOIN nm nb ON nb.node = e.b)),
         |tris AS MATERIALIZED (SELECT w.u, w.x, w.y FROM (
         |  SELECT o1.u AS u, o1.v AS x, o2.v AS y FROM oriented o1
         |  JOIN oriented o2 ON o1.u = o2.u AND o1.v < o2.v) w
         |  JOIN em e ON e.a = w.x AND e.b = w.y),
         |pernode AS (SELECT node, count(*) AS t FROM (
         |  SELECT u AS node FROM tris
         |  UNION ALL SELECT x AS node FROM tris
         |  UNION ALL SELECT y AS node FROM tris) GROUP BY node)
         |SELECT n.node AS doc_id, n.deg AS degree,
         |  coalesce(p.t, 0) AS n_triangles,
         |  round(CASE WHEN n.deg >= 2
         |    THEN CAST(2.0 AS DOUBLE) * coalesce(p.t, 0) / (n.deg * (n.deg - 1))
         |    ELSE CAST(0 AS DOUBLE) END, 6) AS local_cc
         |FROM nm n LEFT JOIN pernode p ON p.node = n.node""".stripMargin,
    "graph_clustering_approx" ->
      // twin of Graph.clusteringApprox (keepMod=2): DOULION
      // sparsification by the deterministic hash60 coin (the
      // graph_triangle_sample discipline), the SAME per-node triangle
      // charge on the kept edges, each count scaled by 2^3, normalized
      // by the TRUE degree from the full graph's node table
      s"""WITH $graphCtes,
         |sedges AS MATERIALIZED (SELECT a, b FROM edges
         |  WHERE ${h60("concat(CAST(a AS VARCHAR), '|', CAST(b AS VARCHAR))")} % 2 = 0),
         |sadj AS (SELECT a AS src, b AS dst FROM sedges
         |  UNION ALL SELECT b AS src, a AS dst FROM sedges),
         |snodes AS MATERIALIZED (SELECT src AS node, count(*) AS deg FROM sadj GROUP BY src),
         |soriented AS MATERIALIZED (SELECT
         |  CASE WHEN da < db OR (da = db AND a < b) THEN a ELSE b END AS u,
         |  CASE WHEN da < db OR (da = db AND a < b) THEN b ELSE a END AS v
         |  FROM (SELECT e.a, e.b, na.deg AS da, nb.deg AS db FROM sedges e
         |    JOIN snodes na ON na.node = e.a JOIN snodes nb ON nb.node = e.b)),
         |stris AS MATERIALIZED (SELECT w.u, w.x, w.y FROM (
         |  SELECT o1.u AS u, o1.v AS x, o2.v AS y FROM soriented o1
         |  JOIN soriented o2 ON o1.u = o2.u AND o1.v < o2.v) w
         |  JOIN sedges e ON e.a = w.x AND e.b = w.y),
         |spernode AS (SELECT node, count(*) AS t FROM (
         |  SELECT u AS node FROM stris
         |  UNION ALL SELECT x AS node FROM stris
         |  UNION ALL SELECT y AS node FROM stris) GROUP BY node)
         |SELECT n.node AS doc_id, n.deg AS degree,
         |  coalesce(p.t, 0) * CAST(8 AS BIGINT) AS est_triangles,
         |  round(CASE WHEN n.deg >= 2
         |    THEN CAST(2.0 AS DOUBLE) * coalesce(p.t, 0) * CAST(8.0 AS DOUBLE)
         |      / (n.deg * (n.deg - 1))
         |    ELSE CAST(0 AS DOUBLE) END, 6) AS est_cc
         |FROM nodes n LEFT JOIN spernode p ON p.node = n.node""".stripMargin,
    "graph_clustering_approx_err" ->
      // twin of Graph.clusteringApproxError: exact per-node local_cc
      // (the graph_local_clustering chain) joined against the
      // DOULION-scaled estimate (the graph_clustering_approx chain),
      // error moments in DECIMAL(27,10) per fixed integer degree band
      s"""WITH $graphCtes,
         |em AS MATERIALIZED (SELECT a, b FROM edges),
         |nm AS MATERIALIZED (SELECT node, deg FROM nodes),
         |oriented AS MATERIALIZED (SELECT
         |  CASE WHEN da < db OR (da = db AND a < b) THEN a ELSE b END AS u,
         |  CASE WHEN da < db OR (da = db AND a < b) THEN b ELSE a END AS v
         |  FROM (SELECT e.a, e.b, na.deg AS da, nb.deg AS db FROM em e
         |    JOIN nm na ON na.node = e.a JOIN nm nb ON nb.node = e.b)),
         |tris AS MATERIALIZED (SELECT w.u, w.x, w.y FROM (
         |  SELECT o1.u AS u, o1.v AS x, o2.v AS y FROM oriented o1
         |  JOIN oriented o2 ON o1.u = o2.u AND o1.v < o2.v) w
         |  JOIN em e ON e.a = w.x AND e.b = w.y),
         |pernode AS (SELECT node, count(*) AS t FROM (
         |  SELECT u AS node FROM tris
         |  UNION ALL SELECT x AS node FROM tris
         |  UNION ALL SELECT y AS node FROM tris) GROUP BY node),
         |exact AS (SELECT n.node AS doc_id, n.deg AS degree,
         |  round(CASE WHEN n.deg >= 2
         |    THEN CAST(2.0 AS DOUBLE) * coalesce(p.t, 0) / (n.deg * (n.deg - 1))
         |    ELSE CAST(0 AS DOUBLE) END, 6) AS local_cc
         |  FROM nm n LEFT JOIN pernode p ON p.node = n.node),
         |sedges AS MATERIALIZED (SELECT a, b FROM em
         |  WHERE ${h60("concat(CAST(a AS VARCHAR), '|', CAST(b AS VARCHAR))")} % 2 = 0),
         |sadj AS (SELECT a AS src, b AS dst FROM sedges
         |  UNION ALL SELECT b AS src, a AS dst FROM sedges),
         |snodes AS MATERIALIZED (SELECT src AS node, count(*) AS deg FROM sadj GROUP BY src),
         |soriented AS MATERIALIZED (SELECT
         |  CASE WHEN da < db OR (da = db AND a < b) THEN a ELSE b END AS u,
         |  CASE WHEN da < db OR (da = db AND a < b) THEN b ELSE a END AS v
         |  FROM (SELECT e.a, e.b, na.deg AS da, nb.deg AS db FROM sedges e
         |    JOIN snodes na ON na.node = e.a JOIN snodes nb ON nb.node = e.b)),
         |stris AS MATERIALIZED (SELECT w.u, w.x, w.y FROM (
         |  SELECT o1.u AS u, o1.v AS x, o2.v AS y FROM soriented o1
         |  JOIN soriented o2 ON o1.u = o2.u AND o1.v < o2.v) w
         |  JOIN sedges e ON e.a = w.x AND e.b = w.y),
         |spernode AS (SELECT node, count(*) AS t FROM (
         |  SELECT u AS node FROM stris
         |  UNION ALL SELECT x AS node FROM stris
         |  UNION ALL SELECT y AS node FROM stris) GROUP BY node),
         |approx AS (SELECT n.node AS doc_id,
         |  round(CASE WHEN n.deg >= 2
         |    THEN CAST(2.0 AS DOUBLE) * coalesce(p.t, 0) * CAST(8.0 AS DOUBLE)
         |      / (n.deg * (n.deg - 1))
         |    ELSE CAST(0 AS DOUBLE) END, 6) AS est_cc
         |  FROM nm n LEFT JOIN spernode p ON p.node = n.node),
         |err AS (SELECT
         |  CAST(CASE WHEN e.degree < 4 THEN 0 WHEN e.degree < 16 THEN 1
         |    WHEN e.degree < 64 THEN 2 ELSE 3 END AS BIGINT) AS deg_band,
         |  CAST(a.est_cc - e.local_cc AS DECIMAL(27,10)) AS err,
         |  CAST(abs(a.est_cc - e.local_cc) AS DECIMAL(27,10)) AS abs_err
         |  FROM exact e JOIN approx a ON a.doc_id = e.doc_id)
         |SELECT deg_band, CAST(count(*) AS BIGINT) AS n_nodes,
         |  round(CAST(sum(err) AS DOUBLE) / count(*), 6) AS bias,
         |  round(CAST(sum(abs_err) AS DOUBLE) / count(*), 6) AS mae,
         |  round(CAST(max(abs_err) AS DOUBLE), 6) AS max_abs_err
         |FROM err GROUP BY deg_band""".stripMargin,
    "graph_eigencentrality" -> {
      // twin of Graph.eigenCentrality (iters=3): power iteration with
      // DECIMAL neighbor sums, a DECIMAL L1 normalizer over those sums,
      // each iterate rounded to 8; MATERIALIZED for the graph_kcore
      // reason (each iterate reads its predecessor through the sums)
      val iters = (1 to 3).map { i =>
        s"""c$i AS (SELECT a.dst, CAST(r.pr AS DECIMAL(27,10)) AS c
           |  FROM adjm a JOIN x${i - 1} r ON a.src = r.node),
           |s$i AS MATERIALIZED (SELECT dst, sum(c) AS sc FROM c$i GROUP BY dst),
           |t$i AS (SELECT sum(sc) AS tot FROM s$i),
           |x$i AS MATERIALIZED (SELECT n.node, n.deg,
           |  round(CAST(s.sc AS DOUBLE) / CAST(t.tot AS DOUBLE), 8) AS pr
           |  FROM nodes n JOIN s$i s ON s.dst = n.node CROSS JOIN t$i t)""".stripMargin
      }.mkString(",\n")
      s"""WITH $graphCtes,
         |adjm AS MATERIALIZED (SELECT src, dst FROM adj),
         |nn AS (SELECT count(*) AS n FROM nodes),
         |x0 AS MATERIALIZED (SELECT node, deg,
         |  round(CAST(1.0 AS DOUBLE) / nn.n, 8) AS pr
         |  FROM nodes CROSS JOIN nn),
         |$iters
         |SELECT node AS doc_id, deg AS degree, pr AS centrality FROM x3""".stripMargin
    },
    "graph_hits" -> {
      // twin of Graph.hits (iters=3): hub/authority power iterations on
      // the ORIENTED (doc_a < doc_b) edge list, DECIMAL update sums, L1
      // normalizer over those sums, each iterate rounded to 8;
      // MATERIALIZED for the graph_kcore reason (each auth reads the
      // previous hub and each hub the fresh auth — inlining would
      // re-expand the LSH chain per half-step)
      val iters = (1 to 3).map { i =>
        val prevHub = if (i == 1) "h0" else s"h${i - 1}"
        s"""sa$i AS MATERIALIZED (SELECT e.dst AS node,
           |  sum(CAST(p.h AS DECIMAL(27,10))) AS sa
           |  FROM dedges e JOIN $prevHub p ON e.src = p.node GROUP BY e.dst),
           |ta$i AS (SELECT sum(sa) AS tot FROM sa$i),
           |a$i AS MATERIALIZED (SELECT node,
           |  round(CAST(sa AS DOUBLE) / CAST(t.tot AS DOUBLE), 8) AS au
           |  FROM sa$i CROSS JOIN ta$i t),
           |sh$i AS MATERIALIZED (SELECT e.src AS node,
           |  sum(CAST(p.au AS DECIMAL(27,10))) AS sh
           |  FROM dedges e JOIN a$i p ON e.dst = p.node GROUP BY e.src),
           |th$i AS (SELECT sum(sh) AS tot FROM sh$i),
           |h$i AS MATERIALIZED (SELECT node,
           |  round(CAST(sh AS DOUBLE) / CAST(t.tot AS DOUBLE), 8) AS h
           |  FROM sh$i CROSS JOIN th$i t)""".stripMargin
      }.mkString(",\n")
      s"""WITH $graphCtes,
         |dedges AS MATERIALIZED (SELECT a AS src, b AS dst FROM edges),
         |hnodes AS MATERIALIZED (SELECT node,
         |  CAST(sum(od) AS BIGINT) AS out_deg, CAST(sum(id) AS BIGINT) AS in_deg
         |  FROM (SELECT src AS node, 1 AS od, 0 AS id FROM dedges
         |        UNION ALL SELECT dst AS node, 0 AS od, 1 AS id FROM dedges)
         |  GROUP BY node),
         |h0 AS (SELECT node, CAST(1.0 AS DOUBLE) AS h FROM hnodes),
         |$iters
         |SELECT n.node AS doc_id, n.out_deg, n.in_deg,
         |  coalesce(h.h, CAST(0.0 AS DOUBLE)) AS hub,
         |  coalesce(a.au, CAST(0.0 AS DOUBLE)) AS authority
         |FROM hnodes n LEFT JOIN h3 h ON h.node = n.node
         |LEFT JOIN a3 a ON a.node = n.node""".stripMargin
    },
    "graph_pagerank" -> {
      // twin of Graph.pageRank: 3 unrolled power iterations, DECIMAL
      // contribution sums, rank rounded to 8 per iteration so both
      // engines iterate on identical doubles
      val iters = (1 to 3).map { i =>
        val prev = if (i == 1) "r0" else s"r${i - 1}"
        s"""c$i AS (SELECT a.dst, CAST(r.pr / r.deg AS DECIMAL(27,10)) AS c
           |  FROM adj a JOIN $prev r ON a.src = r.node),
           |s$i AS (SELECT dst, sum(c) AS sc FROM c$i GROUP BY dst),
           |r$i AS (SELECT n.node, n.deg, nn.n,
           |  round(CAST(0.15 AS DOUBLE) / nn.n
           |    + CAST(0.85 AS DOUBLE) * CAST(s.sc AS DOUBLE), 8) AS pr
           |  FROM nodes n CROSS JOIN nn JOIN s$i s ON s.dst = n.node)""".stripMargin
      }.mkString(",\n")
      s"""WITH $graphCtes,
         |nn AS (SELECT count(*) AS n FROM nodes),
         |r0 AS (SELECT node, deg, n, round(CAST(1.0 AS DOUBLE) / n, 8) AS pr
         |  FROM nodes CROSS JOIN nn),
         |$iters
         |SELECT node AS doc_id, deg AS degree, pr FROM r3""".stripMargin
    },
    "graph_pagerank_trajectory" -> {
      // twin of Graph.pageRankTrajectory: 5 unrolled iterations of the
      // graph_pagerank body; per iteration |pr_i − pr_{i-1}| rounded to
      // 8 (the iterates are identical rounded doubles on both engines,
      // so the subtraction is the same IEEE op), max + DECIMAL L1.
      // MATERIALIZED is load-bearing (the graph_kcore lesson, bitten
      // again when the corpus regeneration grew the pair graph): each
      // d_i references TWO iterates and each c_i re-reads adj, so
      // inlined CTEs re-expand the LSH chain exponentially with depth —
      // observed as a >80 GB DuckDB temp spill before the fix
      val iters = (1 to 5).map { i =>
        val prev = if (i == 1) "r0" else s"r${i - 1}"
        s"""c$i AS (SELECT a.dst, CAST(r.pr / r.deg AS DECIMAL(27,10)) AS c
           |  FROM adjm a JOIN $prev r ON a.src = r.node),
           |s$i AS (SELECT dst, sum(c) AS sc FROM c$i GROUP BY dst),
           |r$i AS MATERIALIZED (SELECT n.node, n.deg, nn.n,
           |  round(CAST(0.15 AS DOUBLE) / nn.n
           |    + CAST(0.85 AS DOUBLE) * CAST(s.sc AS DOUBLE), 8) AS pr
           |  FROM nodesm n CROSS JOIN nn JOIN s$i s ON s.dst = n.node),
           |d$i AS (SELECT round(abs(cur.pr - prv.pr), 8) AS d
           |  FROM r$i cur JOIN $prev prv ON cur.node = prv.node),
           |t$i AS (SELECT CAST($i AS BIGINT) AS iter, max(d) AS max_delta,
           |  round(CAST(sum(CAST(d AS DECIMAL(27,10))) AS DOUBLE), 8) AS l1_delta
           |  FROM d$i)""".stripMargin
      }.mkString(",\n")
      s"""WITH $graphCtes,
         |adjm AS MATERIALIZED (SELECT src, dst FROM adj),
         |nodesm AS MATERIALIZED (SELECT node, deg FROM nodes),
         |nn AS (SELECT count(*) AS n FROM nodesm),
         |r0 AS MATERIALIZED (SELECT node, deg, n, round(CAST(1.0 AS DOUBLE) / n, 8) AS pr
         |  FROM nodesm CROSS JOIN nn),
         |$iters
         |${(1 to 5).map(i => s"SELECT * FROM t$i").mkString("\n UNION ALL ")}""".stripMargin
    })

  // ---- multimodal -------------------------------------------------------
  // payload = UTF-8 bytes of `text` (ASCII corpus), so the oracle mirrors
  // byte-level ops on the string directly.

  private val multimodal: Map[String, String] = Map(
    "mm_meta_stats" ->
      s"""SELECT mime, count(*) AS n_assets, CAST(sum(n_bytes) AS BIGINT) AS total_bytes,
         |  round(avg(width), 2) AS avg_width, round(avg(height), 2) AS avg_height
         |FROM (SELECT
         |    CASE WHEN doc_id % 3 = 0 THEN 'image/png'
         |         WHEN doc_id % 3 = 1 THEN 'audio/wav'
         |         ELSE 'video/mp4' END AS mime,
         |    CAST(strlen(text) AS BIGINT) AS n_bytes,
         |    CAST(doc_id % 5 * 160 + 320 AS BIGINT) AS width,
         |    CAST(doc_id % 5 * 90 + 180 AS BIGINT) AS height
         |  FROM $docs)
         |GROUP BY mime""".stripMargin,
    "mm_features" -> {
      val h = h60("md5_text")
      s"""WITH m AS (SELECT doc_id, text, md5(text) AS payload_md5,
         |  CASE WHEN doc_id % 3 = 0 THEN 'image/png'
         |       WHEN doc_id % 3 = 1 THEN 'audio/wav'
         |       ELSE 'video/mp4' END AS mime FROM $docs),
         |h AS (SELECT doc_id, mime, payload_md5,
         |  CAST(concat('0x', substr(payload_md5, 1, 15)) AS BIGINT) AS hv,
         |  CAST(strlen(text) AS BIGINT) AS n_bytes FROM m)
         |SELECT doc_id, mime, payload_md5,
         |  n_bytes::DOUBLE AS f_len,
         |  round((hv % 256)::DOUBLE + ((hv >> 8) % 256)::DOUBLE + ((hv >> 16) % 256)::DOUBLE, 2) AS f_sig
         |FROM h""".stripMargin
    },
    "mm_phash_pairs" -> {
      // twin of MultiModal.mmPhashPairs (maxDist=5): same 48-bit SimHash
      // over content 4-grams (payload = UTF-8 of text, ASCII corpus);
      // the Spark side's per-mime 6-block pigeonhole banding is exact
      // for hamming <= 5, so the oracle uses closed-form all-pairs
      // WITHIN mime
      val terms = (0 until 48).map { b =>
        s"(CASE WHEN 2*len(list_filter(hs, v -> ((v >> $b) & 1) = 1)) >= len(hs) THEN CAST(${1L << b} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
      }.mkString(" + ")
      val grams =
        "list_distinct(CASE WHEN length(sk) >= 4 THEN " +
          "list_transform(range(1, length(sk) - 4 + 2), j -> sk[j:j+3]) " +
          "ELSE CAST([] AS VARCHAR[]) END)"
      s"""WITH m AS (SELECT doc_id,
         |  CASE WHEN doc_id % 3 = 0 THEN 'image/png'
         |       WHEN doc_id % 3 = 1 THEN 'audio/wav'
         |       ELSE 'video/mp4' END AS mime,
         |  regexp_replace(lower(text), '[^a-z0-9]', '', 'g') AS sk FROM $docs),
         |g AS (SELECT doc_id, mime,
         |  list_transform($grams, g -> ${h60("g")}) AS hs FROM m),
         |sig AS (SELECT doc_id, mime, CAST($terms AS BIGINT) AS phash FROM g)
         |SELECT a.mime, a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  CAST(bit_count(xor(a.phash, b.phash)) AS BIGINT) AS hamming
         |FROM sig a JOIN sig b ON a.mime = b.mime AND a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.phash, b.phash)) <= 5""".stripMargin
    },
    "mm_phash_clusters" -> {
      // twin of MultiModal.mmPhashClusters (maxDist=5): the mm_phash_pairs
      // signature CTEs, closed-form within-mime pairs, recursive
      // transitive closure (the dedup_clusters convention), per-mime
      // family-size histogram
      val terms = (0 until 48).map { b =>
        s"(CASE WHEN 2*len(list_filter(hs, v -> ((v >> $b) & 1) = 1)) >= len(hs) THEN CAST(${1L << b} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
      }.mkString(" + ")
      val grams =
        "list_distinct(CASE WHEN length(sk) >= 4 THEN " +
          "list_transform(range(1, length(sk) - 4 + 2), j -> sk[j:j+3]) " +
          "ELSE CAST([] AS VARCHAR[]) END)"
      s"""WITH RECURSIVE m AS (SELECT doc_id,
         |  CASE WHEN doc_id % 3 = 0 THEN 'image/png'
         |       WHEN doc_id % 3 = 1 THEN 'audio/wav'
         |       ELSE 'video/mp4' END AS mime,
         |  regexp_replace(lower(text), '[^a-z0-9]', '', 'g') AS sk FROM $docs),
         |g AS (SELECT doc_id, mime,
         |  list_transform($grams, g -> ${h60("g")}) AS hs FROM m),
         |sig AS (SELECT doc_id, mime, CAST($terms AS BIGINT) AS phash FROM g),
         |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM sig a JOIN sig b ON a.mime = b.mime AND a.doc_id < b.doc_id
         |  WHERE bit_count(xor(a.phash, b.phash)) <= 5),
         |edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
         |  UNION SELECT doc_b, doc_a FROM pairs),
         |reach(a, b) AS (
         |  SELECT a, b FROM edges
         |  UNION
         |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a WHERE e.b <> r.a),
         |labels AS (SELECT m.doc_id, m.mime,
         |  least(m.doc_id, coalesce(min(r.b), m.doc_id)) AS cluster_id
         |  FROM m LEFT JOIN reach r ON r.a = m.doc_id GROUP BY m.doc_id, m.mime),
         |cg AS (SELECT cluster_id, min(mime) AS mime, count(*) AS sz
         |  FROM labels GROUP BY cluster_id)
         |SELECT mime, sz AS cluster_size, count(*) AS n_clusters,
         |  CAST(sum(sz) AS BIGINT) AS n_assets
         |FROM cg GROUP BY mime, sz""".stripMargin
    },
    "mm_resize" ->
      // twin of MultiModal.mmResize(box=256): same integer fit-within
      // geometry and area-law byte budget; ASCII corpus so the byte
      // probe mirrors on text substr
      s"""WITH m AS (SELECT doc_id, text,
         |  CASE WHEN doc_id % 3 = 0 THEN 'image/png'
         |       WHEN doc_id % 3 = 1 THEN 'audio/wav'
         |       ELSE 'video/mp4' END AS mime,
         |  CAST(strlen(text) AS BIGINT) AS n_bytes,
         |  CAST(doc_id % 5 * 160 + 320 AS BIGINT) AS w,
         |  CAST(doc_id % 5 * 90 + 180 AS BIGINT) AS h FROM $docs),
         |g AS (SELECT *, greatest((greatest(w, h) + 255) // 256, 1) AS scale FROM m)
         |SELECT doc_id, mime, w, h, scale,
         |  w // scale AS new_w, h // scale AS new_h,
         |  (n_bytes + scale * scale - 1) // (scale * scale) AS out_bytes,
         |  md5(substr(text, 1, CAST((n_bytes + scale * scale - 1) // (scale * scale) AS INTEGER))) AS probe
         |FROM g""".stripMargin,
    "mm_payload_dedup" ->
      // twin of MultiModal.mmPayloadDedup: payload = UTF-8 bytes of text
      // (ASCII corpus), so the content hash mirrors md5(text)
      s"""SELECT mime, md5(text) AS payload_md5,
         |  min(doc_id) AS keep_id, count(*) AS n_copies
         |FROM (SELECT doc_id, text,
         |    CASE WHEN doc_id % 3 = 0 THEN 'image/png'
         |         WHEN doc_id % 3 = 1 THEN 'audio/wav'
         |         ELSE 'video/mp4' END AS mime
         |  FROM $docs)
         |GROUP BY mime, payload_md5""".stripMargin,
    "mm_shot_boundaries" ->
      // twin of MultiModal.mmShotBoundaries (stride=64, threshold=85):
      // same frame offsets, same md5-head feature mod 256, same lag-1
      // delta per asset; single-frame assets report null mean/max on
      // both engines (no consecutive pair).
      // ASCII-corpus assumption (inherited from the mm_frame_sample
      // convention): substr/strlen here are CHARACTER-based while the
      // Spark side slices the UTF-8 payload by BYTES — equivalent only
      // because the synthetic documents corpus is pure ASCII (pinned by
      // the "payload corpus is ASCII" assertion in MultiModalSpec).
      s"""WITH v AS (SELECT doc_id, text FROM $docs WHERE doc_id % 3 = 2),
         |fr AS (SELECT doc_id, text,
         |  unnest(range(0, strlen(text), 64)) AS frame_off FROM v),
         |f AS (SELECT doc_id, frame_off,
         |  CAST(concat('0x', substr(md5(substr(text,
         |    CAST(frame_off + 1 AS INTEGER), 32)), 1, 15)) AS BIGINT) % 256
         |    AS f FROM fr),
         |d AS (SELECT doc_id,
         |  abs(f - lag(f) OVER (PARTITION BY doc_id ORDER BY frame_off ASC))
         |    AS delta FROM f)
         |SELECT doc_id, count(*) AS n_frames,
         |  CAST(sum(CASE WHEN delta >= 85 THEN 1 ELSE 0 END) AS BIGINT) AS n_cuts,
         |  round(CAST(sum(delta) AS DOUBLE) / count(delta), 6) AS mean_delta,
         |  max(delta) AS max_delta
         |FROM d GROUP BY doc_id""".stripMargin,
    "mm_frame_sample" ->
      s"""SELECT doc_id, mime, frame_off, md5(substr(text, CAST(frame_off + 1 AS INTEGER), 32)) AS frame_probe
         |FROM (SELECT doc_id, text,
         |    CASE WHEN doc_id % 3 = 0 THEN 'image/png'
         |         WHEN doc_id % 3 = 1 THEN 'audio/wav'
         |         ELSE 'video/mp4' END AS mime,
         |    unnest(range(0, strlen(text), 64)) AS frame_off
         |  FROM $docs)""".stripMargin)

  // ---- IMDB parity ------------------------------------------------------

  /** Staging CTEs mirroring graft.imdb.{Schemas,Extract} over the
    * reference CSVs, plus the four Transform CTAS twins. */
  private def imdbBase: String = {
    val dir = graft.imdb.Pipeline.DefaultData
    def csv(file: String, cols: Seq[(String, String)]): String =
      s"read_csv('$dir/$file', header=true, nullstr='NULL', " +
        s"columns={${cols.map { case (n, t) => s"'$n':'$t'" }.mkString(",")}})"
    s"""movies_staging AS (SELECT * FROM ${csv("movie.csv", Seq(
         "id" -> "VARCHAR", "title" -> "VARCHAR", "year" -> "INTEGER",
         "date_published" -> "DATE", "duration" -> "INTEGER", "country" -> "VARCHAR",
         "worlwide_gross_income" -> "VARCHAR", "languages" -> "VARCHAR",
         "production_company" -> "VARCHAR"))}),
       |genres_staging AS (SELECT * FROM ${csv("ganre.csv",
         Seq("movie_id" -> "VARCHAR", "genre" -> "VARCHAR"))}),
       |name_staging AS (SELECT * FROM ${csv("names.csv", Seq(
         "id" -> "VARCHAR", "name" -> "VARCHAR", "height" -> "INTEGER",
         "date_of_birth" -> "DATE", "known_for_movies" -> "VARCHAR"))}),
       |ratings_staging AS (SELECT * FROM ${csv("ratings.csv", Seq(
         "movie_id" -> "VARCHAR", "avg_rating" -> "DECIMAL(3,1)",
         "total_votes" -> "INTEGER", "median_rating" -> "INTEGER"))}),
       |director_mapping_staging AS (SELECT * FROM ${csv("director_mapping.csv",
         Seq("movie_id" -> "VARCHAR", "name_id" -> "VARCHAR"))}),
       |role_mapping_staging AS (SELECT * FROM ${csv("role_mapping.csv",
         Seq("movie_id" -> "VARCHAR", "name_id" -> "VARCHAR", "category" -> "VARCHAR"))}),
       |dim_movies AS (SELECT DISTINCT id AS movie_id, title, year, date_published,
       |  duration, country, languages, production_company FROM movies_staging),
       |dim_people AS (SELECT DISTINCT n.id AS person_id, n.name, r.category AS role,
       |  n.known_for_movies, n.date_of_birth, d.movie_id AS directed_movie_id
       |  FROM name_staging n
       |  LEFT JOIN role_mapping_staging r ON n.id = r.name_id
       |  LEFT JOIN director_mapping_staging d ON n.id = d.name_id),
       |dim_genres AS (SELECT DISTINCT genre AS genre_id, genre AS genre_name FROM genres_staging),
       |fact_movies AS (SELECT DISTINCT m.id AS movie_id, dg.genre_id,
       |  dp.person_id AS director_id, r.total_votes, r.avg_rating, m.duration
       |  FROM movies_staging m
       |  LEFT JOIN ratings_staging r ON m.id = r.movie_id
       |  LEFT JOIN genres_staging g ON m.id = g.movie_id
       |  LEFT JOIN dim_genres dg ON g.genre = dg.genre_name
       |  LEFT JOIN dim_people dp ON dp.known_for_movies = m.id)""".stripMargin
  }

  private val imdb: Map[String, String] = Map(
    "imdb_graf1" ->
      s"""WITH $imdbBase
         |SELECT country, count(movie_id) AS number_of_movies FROM dim_movies
         |WHERE country IN ('USA','India') AND year = 2019 GROUP BY country""".stripMargin,
    "imdb_graf2" ->
      s"""WITH $imdbBase
         |SELECT dg.genre_name AS genre, round(avg(fm.duration), 2) AS avg_duration
         |FROM dim_genres dg JOIN fact_movies fm ON dg.genre_id = fm.genre_id
         |GROUP BY dg.genre_name""".stripMargin,
    "imdb_graf3" ->
      s"""WITH $imdbBase
         |SELECT dp.name AS director_name, count(fm.movie_id) AS movie_count
         |FROM fact_movies fm JOIN dim_people dp ON fm.director_id = dp.person_id
         |GROUP BY dp.name ORDER BY movie_count DESC, director_name ASC LIMIT 10""".stripMargin,
    "imdb_graf4" ->
      s"""WITH $imdbBase,
         |fm_g AS (SELECT fm.movie_id, dg.genre_name, fm.director_id
         |  FROM fact_movies fm
         |  JOIN dim_genres dg ON fm.genre_id = dg.genre_id
         |  JOIN ratings_staging r ON fm.movie_id = r.movie_id
         |  WHERE r.avg_rating > 6),
         |top3_genre AS (SELECT genre_name FROM fm_g GROUP BY genre_name
         |  ORDER BY count(movie_id) DESC, genre_name ASC LIMIT 3),
         |ranked AS (SELECT dp.name, fm_g.genre_name, count(fm_g.movie_id) AS movie_count,
         |    row_number() OVER (PARTITION BY fm_g.genre_name
         |      ORDER BY count(fm_g.movie_id) DESC, dp.name ASC) AS director_rank
         |  FROM fm_g JOIN dim_people dp ON fm_g.director_id = dp.person_id
         |  WHERE fm_g.genre_name IN (SELECT genre_name FROM top3_genre)
         |  GROUP BY dp.name, fm_g.genre_name)
         |SELECT name AS director_name, movie_count FROM ranked WHERE director_rank <= 3""".stripMargin,
    "imdb_graf5" ->
      s"""WITH $imdbBase
         |SELECT dp.name AS actor_name, count(*) AS total_roles
         |FROM role_mapping_staging rm JOIN dim_people dp ON rm.name_id = dp.person_id
         |WHERE rm.category IN ('actor','actress')
         |GROUP BY dp.name ORDER BY total_roles DESC, actor_name ASC LIMIT 10""".stripMargin,
    "imdb_graf6" ->
      s"""WITH $imdbBase
         |SELECT country, count(movie_id) AS movie_count FROM dim_movies
         |GROUP BY country ORDER BY movie_count DESC, country ASC LIMIT 10""".stripMargin)

  val all: Map[String, String] =
    relational ++ text ++ events ++ dedup ++ similarity ++ graph ++
      multimodal ++ imdb
}
