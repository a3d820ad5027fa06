package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.functions.EngineNeutral._
import graft.syntax._

/** Deduplication suite for training-data pipelines, over `documents`.
  *
  * Five operators, each with a different recall/cost point:
  *  - exact:        hash-groupBy on a normalized fingerprint. One shuffle
  *                  on the hash — embarrassingly scalable.
  *  - minhashLsh:   word-set MinHash signatures → banded buckets →
  *                  bucket-join candidates → exact-Jaccard verify.
  *                  Shuffles on (band, band_hash) — never all-pairs.
  *  - simhash:      64-bit-ish weighted sign-fingerprint per doc; near-dup
  *                  pairs via byte-block banding (Manku et al., WWW'07).
  *  - ngramJaccard: exact set-similarity join on char n-grams with
  *                  PREFIX FILTERING (Chaudhuri et al., ICDE'06) plus the
  *                  PPJoin positional bound (Xiao et al., WWW'08): only
  *                  the globally-rarest (1-t)|s|+1 shingles of each doc
  *                  are indexed, preserving exactness for threshold t
  *                  while shrinking the inverted-index join.
  *  - embeddingNearDup: cosine-threshold pairs; exact blocked variant here,
  *                  LSH variant in Similarity.
  *  - dupClusters/dedupSurvivors: connected components over the pair
  *                  graph and the one-doc-per-cluster corpus.
  *
  * All hashing is engine-neutral (md5-derived, EngineNeutral.hash60) so
  * the DuckDB oracle reproduces signatures bit-for-bit.
  */
object Dedup {

  // ---- exact ----------------------------------------------------------

  /** Exact dedup groups: one row per distinct normalized content, with
    * the survivor (min doc_id) and the multiplicity. */
  def exact(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select($"doc_id", md5(regexp_replace(lower($"text"), "[^a-z0-9]", "")).as("fp"))
      .groupBy($"fp")
      .agg(min($"doc_id").as("keep_id"), count(lit(1)).as("n_copies"))

  /** DUPLICATION-RATE REPORT — the per-source health metric every
    * curation run emits (a source whose dup rate jumps is a crawler
    * re-fetching or a mirror entering the mix): documents, distinct
    * normalized contents, and the duplicate fraction per source. Two
    * partial-aggregated shuffles on (source, fp) then source — the
    * report stays a few rows however large the corpus. The rate is
    * stated over exact-content copies (same fingerprint as [[exact]]). */
  def rateBySource(s: SparkSession, dir: String): DataFrame =
    rateBySourceFrom(Tables.documents(s, dir))

  /** Core of [[rateBySource]] over any (source, text) frame. */
  def rateBySourceFrom(docs: DataFrame): DataFrame =
    docs
      .select($"source",
        md5(regexp_replace(lower($"text"), "[^a-z0-9]", "")).as("fp"))
      .groupBy($"source", $"fp")
      .agg(count(lit(1)).as("n"))
      .groupBy($"source")
      .agg(sum($"n").as("n_docs"),
        count(lit(1)).as("n_distinct"),
        round((sum($"n") - count(lit(1))).cast("double") / sum($"n"), 6).as("dup_rate"))

  /** End-to-end partitioned-JSONL ingestion → dedup chain: reads the
    * hive-partitioned JSONL corpus layout ([[graft.sources.Layout
    * .documentsJsonl]] — explicit schema, PERMISSIVE corrupt-record
    * audit), prunes to a source subset AT THE PARTITION LEVEL (the
    * filter never opens the other 17 source directories), then runs the
    * exact-fingerprint grouping per source. The oracle-gated proof that
    * the ingestion seam, not just the parquet path, feeds the engine. */
  def jsonlCorpusDedup(s: SparkSession, dir: String,
                       sources: Seq[String] = Seq("src3", "src7", "src11")): DataFrame =
    graft.sources.Layout.documentsJsonl(s, dir)
      .filter($"source".isin(sources: _*))
      .select($"source", $"doc_id",
        md5(regexp_replace(lower($"text"), "[^a-z0-9]", "")).as("fp"))
      .groupBy($"source", $"fp")
      .agg(min($"doc_id").as("keep_id"), count(lit(1)).as("n_copies"))

  // ---- MinHash + LSH --------------------------------------------------

  val MinhashPerms = 16
  val Bands = 4
  val RowsPerBand = 4 // Bands * RowsPerBand == MinhashPerms

  /** Per-doc banded signature rows: (doc_id, band_id, band_hash) ONLY —
    * token sets are deliberately NOT carried here, so the band shuffle
    * moves ~50 bytes/row regardless of document size.
    *
    * Cost shape: ONE md5 per distinct token (the 16 permutations are
    * universal-hash arithmetic over the shared 31-bit base hash — see
    * EngineNeutral.minhashPerm), and the 4 band rows come from a single
    * explode, not a 4-way union re-evaluating the signature. The base-hash
    * projection is a separate select so CollapseProject keeps it
    * single-evaluation (it is referenced by all 16 mins). */
  def minhashBands(s: SparkSession, dir: String): DataFrame = {
    val hashed = Tables.documents(s, dir)
      // token-less docs → all-null minhashes → one shared degenerate
      // band key per band; see minhashDocFeatures for the full account.
      // Guard on the RAW text (trim-nonempty ⟺ wsTokens nonempty, so
      // exactly the twins' len(ws)>0): a size()-of-the-projection guard
      // gets pushed below the project and re-evaluates the whole
      // md5-per-token chain once per doc just to test emptiness
      // (measured as the r15 1.13× drift on this derivation).
      .filter(length(trim($"text")) > 0)
      .select($"doc_id", transform(wordSet($"text"), t => hash31(t)).as("hb"))
    val sig = hashed.select(
      col("doc_id") +: (0 until MinhashPerms).map { i =>
        array_min(transform($"hb", h => minhashPerm(h, i))).as(s"mh$i")
      }: _*)
    val bandStructs = (0 until Bands).map { b =>
      val cols = (0 until RowsPerBand).map(r => col(s"mh${b * RowsPerBand + r}").cast("string"))
      struct(lit(b.toLong).as("band_id"), md5(concat_ws("|", cols: _*)).as("band_hash"))
    }
    sig.select($"doc_id", explode(array(bandStructs: _*)).as("b"))
      .select($"doc_id", $"b.band_id".as("band_id"), $"b.band_hash".as("band_hash"))
  }

  /** Banded-signature view (no pair join) — the oracle-checkable artifact. */
  def minhashSignatures(s: SparkSession, dir: String): DataFrame =
    minhashBands(s, dir)

  /** Near-dup pairs: docs sharing any band bucket, verified with exact
    * set Jaccard >= threshold over the 31-bit hashed token sets (any
    * band-key or token-hash collision only ADDS a candidate, which the
    * exact verify then filters — the result set is collision-proof).
    *
    * Scale shape, stage by stage:
    *  - candidate generation joins (band_id, band_key) — linear in
    *    bucket sizes, never all-pairs;
    *  - LEFTMOST-BAND dedup: each row carries the 4 band keys (32
    *    bytes), and a pair is emitted only from its first matching
    *    band — candidates are unique BY CONSTRUCTION, eliminating the
    *    multi-million-row distinct() shuffle entirely;
    *  - verify: token-hash sets join in (broadcast-sized per bucket of
    *    docs; sorted+distinct at build time) and a codegen merge loop
    *    (SortedJaccardExpr) computes set Jaccard with zero per-pair
    *    allocation. */
  /** Per-doc LSH features over any (doc_id, text) frame: `bks` (the
    * [[Bands]] banded signature keys candidate generation joins on) and
    * `hb` (the sorted distinct 31-bit token-hash set the exact verify
    * consumes). Narrow ops only — no shuffle, no state — so the same
    * definition computes the standing index from a batch corpus AND
    * featurizes a streaming micro-batch of arriving docs
    * ([[graft.streaming.Streams.nearDupMaintenance]]); parity between
    * the two paths is therefore structural, not re-implemented. */
  def minhashDocFeatures(docs: DataFrame): DataFrame = {
    val hashed = docs
      // Empty/whitespace-only docs have no tokens → every `array_min`
      // minhash is null → `concat_ws` skips nulls and EVERY band key
      // degenerates to hash60("") — all empty docs land in one bucket in
      // every band, i.e. O(N_empty²) candidate pairs and a single hot
      // key (one straggler task at cluster scale). They carry no
      // near-dup signal (J(∅,·) = 0 by SortedJaccardExpr's definition,
      // so verify would drop them anyway); cut them before signatures.
      // Same guard as lshTuningCurve's truth pass; DuckDB twins mirror
      // it in minhashSigCte's ws CTE. Guard on the RAW text
      // (trim-nonempty ⟺ wsTokens nonempty): a size()-of-the-projection
      // guard re-evaluates the md5-per-token chain after pushdown.
      .filter(length(trim($"text")) > 0)
      .select($"doc_id", transform(wordSet($"text"), t => hash31(t)).as("hb0"))
    val sig = hashed.select(
      col("doc_id") +: (0 until MinhashPerms).map { i =>
        array_min(transform($"hb0", h => minhashPerm(h, i))).as(s"mh$i")
      } :+ $"hb0": _*)
    sig.select(
      $"doc_id",
      // per-doc array of 4 cheap band keys (hash60 of the quadruple)
      array((0 until Bands).map { b =>
        val cols = (0 until RowsPerBand).map(r => col(s"mh${b * RowsPerBand + r}").cast("string"))
        hash60(concat_ws("|", cols: _*))
      }: _*).as("bks"),
      sort_array(array_distinct($"hb0")).as("hb"))
  }

  def minhashLshPairs(s: SparkSession, dir: String, threshold: Double = 0.9): DataFrame =
    minhashLshPairsFrom(Tables.documents(s, dir).select($"doc_id", $"text"), threshold)

  /** Core of [[minhashLshPairs]] over any (doc_id, text) frame. */
  def minhashLshPairsFrom(docs: DataFrame, threshold: Double = 0.9): DataFrame = {
    require(threshold > 0 && threshold <= 1, s"threshold must be in (0,1], got $threshold")
    import graft.functions.SortedJaccardExpr
    import org.apache.spark.sql.graftbridge.Bridge
    val feats = minhashDocFeatures(docs.select($"doc_id", $"text"))
    val withKeys = feats.select($"doc_id", $"bks")
    val bandRows = withKeys.select(
      $"doc_id", $"bks",
      explode(array((0 until Bands).map(b =>
        struct(lit(b).as("band_id"), element_at($"bks", b + 1).as("bk"))): _*)).as("b"))
      .select($"doc_id", $"bks", $"b.band_id".as("band_id"), $"b.bk".as("bk"))
    val l = bandRows.select($"band_id", $"bk", $"doc_id".as("doc_a"), $"bks".as("bks_a"))
    val r = bandRows.select($"band_id".as("band_id_r"), $"bk".as("bk_r"),
      $"doc_id".as("doc_b"), $"bks".as("bks_b"))
    // emit only from the FIRST band both docs share: unique candidates,
    // no distinct() shuffle
    val noEarlierMatch = (0 until Bands - 1).map { e =>
      $"band_id" <= e || element_at($"bks_a", e + 1) =!= element_at($"bks_b", e + 1)
    }.reduce(_ && _)
    val cands = l.join(r,
        $"band_id" === $"band_id_r" && $"bk" === $"bk_r" && $"doc_a" < $"doc_b" &&
          noEarlierMatch)
      .select($"doc_a", $"doc_b")
    val hb = feats.select($"doc_id", $"hb")
    def sortedJaccard(a: Column, b: Column): Column =
      Bridge.column(SortedJaccardExpr(Bridge.expression(a), Bridge.expression(b)))
    cands
      .join(hb.select($"doc_id".as("doc_a"), $"hb".as("hb_a")), "doc_a")
      .join(hb.select($"doc_id".as("doc_b"), $"hb".as("hb_b")), "doc_b")
      .withColumn("jaccard", sortedJaccard($"hb_a", $"hb_b"))
      .filter($"jaccard" >= threshold)
      .select($"doc_a", $"doc_b", round($"jaccard", 6).as("jaccard"))
  }

  /** MINHASH CALIBRATION — the sketch-quality audit next to the pair
    * join (the dedup-side analogue of [[graft.operators.Similarity
    * .recallReport]]): for every verified near-dup pair, the similarity
    * the SIGNATURE estimates (fraction of agreeing permutations —
    * E[est] = true Jaccard, the MinHash identity) against the exact
    * verified Jaccard. A drifting estimator (wrong permutation
    * constants, truncated signatures) shows up as |est − jaccard| mass
    * far from 0 long before recall visibly degrades. Shape: the pair
    * set equi-joins the 16-column signature table twice on doc_id —
    * signatures are 128 bytes/doc, the same lookup-shape as
    * [[crossSourceMatrix]]'s source resolution. */
  def minhashCalibration(s: SparkSession, dir: String,
                         threshold: Double = 0.9): DataFrame = {
    val hashed = Tables.documents(s, dir)
      .select($"doc_id", transform(wordSet($"text"), t => hash31(t)).as("hb"))
    val sig = hashed.select(
      $"doc_id",
      array((0 until MinhashPerms).map { i =>
        array_min(transform($"hb", h => minhashPerm(h, i)))
      }: _*).as("mhs"))
    val agree = (0 until MinhashPerms).map(i =>
      when(element_at($"mhs_a", i + 1) === element_at($"mhs_b", i + 1), 1)
        .otherwise(0)).reduce(_ + _)
    minhashLshPairs(s, dir, threshold)
      .join(sig.select($"doc_id".as("doc_a"), $"mhs".as("mhs_a")), "doc_a")
      .join(sig.select($"doc_id".as("doc_b"), $"mhs".as("mhs_b")), "doc_b")
      .select($"doc_a", $"doc_b", $"jaccard",
        round(agree.cast("double") / MinhashPerms, 6).as("est_sim"))
  }

  /** LSH BANDING TUNING CURVE — the (bands × rows) knob of the MinHash
    * index swept over every banding of the 16 permutations, each config
    * priced in BOTH currencies at once: the analytic S-curve detection
    * probability at the dedup threshold (1 − (1 − t^r)^b — Leskovec,
    * Rajaraman & Ullman, MMDS ch.3) AND the measured candidate volume /
    * detection / precision over the live corpus. The dedup-side
    * companion of [[graft.operators.Similarity.ivfProbeCurve]]: banding
    * chosen blind either floods the verifier with candidates (b high,
    * r low) or silently drops true near-dups (b low, r high), and the
    * curve MOVES when the corpus's similarity mass moves — re-run after
    * every ingestion, in the engine, oracle-checked.
    *
    * Truth-set policy: a band of r = 2k permutations matching implies
    * both aligned k-halves match, so candidate sets NEST as banding
    * coarsens and the FINEST swept banding's candidate set is a
    * superset of every coarser one's — its verified pairs are the
    * recall denominator (`recall_vs_union`; with (8, 2) finest, a
    * j ≥ 0.9 pair missed by all 8 two-row bands has probability
    * (1 − j²)^8 ≈ 1.7e-6, named residual). The r = 1 single-permutation
    * banding is deliberately NOT swept: one-MinHash buckets collect
    * every document whose rarest permuted token coincides, which on a
    * Zipfy corpus is O(N) per bucket → a quadratic candidate set — the
    * exact configuration the S-curve tells an operator never to deploy,
    * and the one this operator exists to price people away from
    * (measured: the (16, 1) leg went quadratic at 10x while the swept
    * three stayed banded). Shape: the signature table builds ONCE
    * (checkpointed, 16 columns + the verify hash set); per config one
    * leftmost-band-deduped equi-join (candidates unique by
    * construction, never all-pairs) + one left-semi probe against the
    * checkpointed truth set; the exact Jaccard verify runs ONLY for
    * the finest config's truth pass. */
  /** Pair-mass-per-pass bar for [[lshTuningCurve]]'s (8,2) truth pass.
    * The posture is decided by a cheap UPPER BOUND on the truth
    * config's candidate count — Σ_buckets C(n,2) over (band, key) group
    * sizes, a bounded aggregate over band rows that never touches the
    * pairs themselves. Under the bar the whole curve runs as the proven
    * single-plan shape (all three candidate frames checkpointed, one
    * verify join). Above it candidate GENERATION is chunked: each of
    * ceil(bound / bar) sequential passes re-runs the band join, keeps
    * only its hash-slice (pmod(xxhash64(doc_a, doc_b), k)), verifies it
    * and reduces to truth rows before the next pass — so neither the
    * candidate frame nor its verify ever exists whole. (The r16 100×
    * rehearsal proved BOTH are hazards: the one-shot verify OOM'd in
    * r15, and after chunking only the verify, the ~1.1B-row candidate
    * CHECKPOINT alone filled this box's scratch disk.) Every candidate
    * lands in exactly one chunk, so the summed counts and unioned truth
    * — and the oracle hash — cannot depend on the split.
    * Calibration: measured pre-dedup pair mass is 41.9M at sf0.1 and
    * scales linearly in the replica count (disjoint token sets →
    * band-key collisions are hash-random), so the 10× leg's
    * measured-safe single pass (93 s standalone, r13; ~113M actual
    * pairs) is ~419M of bound mass. 450M/pass keeps 10× single-pass
    * and cuts 100× (~4.2B bound) into ~10 chunks, each the size of
    * that proven 10× pass; on a real cluster scratch scales with the
    * fleet and the bar rises — a capacity policy, never a result
    * change. */
  val TuningVerifyPairsPerPass: Long = 450000000L

  def lshTuningCurve(s: SparkSession, dir: String,
                     threshold: Double = 0.9,
                     verifyPairsPerPass: Long = TuningVerifyPairsPerPass): DataFrame = {
    require(threshold > 0 && threshold <= 1, s"threshold must be in (0,1], got $threshold")
    require(verifyPairsPerPass >= 1,
      s"verifyPairsPerPass must be >= 1, got $verifyPairsPerPass")
    import graft.functions.SortedJaccardExpr
    import org.apache.spark.sql.graftbridge.Bridge
    def sortedJaccard(a: Column, b: Column): Column =
      Bridge.column(SortedJaccardExpr(Bridge.expression(a), Bridge.expression(b)))
    val hashed = Tables.documents(s, dir)
      // empty/whitespace-only docs have no tokens → every minhash null →
      // concat_ws collapses ALL of them to one shared band key in every
      // banding = O(N_empty²) candidate pairs, the exact quadratic
      // bucket this curve exists to price away. They carry no near-dup
      // signal; drop them before signatures (twin mirrors the filter).
      // Raw-text guard (trim-nonempty ⟺ wsTokens nonempty) — see
      // minhashDocFeatures for the pushdown double-eval account.
      .filter(length(trim($"text")) > 0)
      .select($"doc_id", transform(wordSet($"text"), t => hash31(t)).as("hb0"))
    val sig = hashed.select(
      col("doc_id") +: (0 until MinhashPerms).map { i =>
        array_min(transform($"hb0", h => minhashPerm(h, i))).as(s"mh$i")
      } :+ sort_array(array_distinct($"hb0")).as("hb"): _*)
      .localCheckpoint(true)
    val configs = Seq((8, 2), (4, 4), (2, 8))
    def bandRowsOf(b: Int, r: Int): DataFrame = {
      val keys = (0 until b).map { bi =>
        val cols = (0 until r).map(ri => col(s"mh${bi * r + ri}").cast("string"))
        hash60(concat_ws("|", cols: _*))
      }
      // sz rides along (one long) so the chunked path's generation can
      // apply the size-band prefilter INLINE; every other consumer
      // (the bound aggregate, the single-plan candsOf) prunes it
      val withKeys = sig.select($"doc_id",
        size($"hb").cast("long").as("sz"), array(keys: _*).as("bks"))
      withKeys.select($"doc_id", $"sz", $"bks",
        explode(array((0 until b).map(bi =>
          struct(lit(bi).as("band_id"), element_at($"bks", bi + 1).as("bk"))): _*)).as("x"))
        .select($"doc_id", $"sz", $"bks", $"x.band_id".as("band_id"), $"x.bk".as("bk"))
    }
    // Candidate join over ANY band-row frame (the full banding, or one
    // bucket slice of it — pairs exist only within a (band, key) bucket,
    // so the join body is slice-agnostic). The leftmost-band dedup
    // predicate reads the carried bks arrays — row-local, so it holds on
    // any bucket subset: a pair colliding in several bands survives only
    // at its earliest one, whichever slice owns that bucket.
    def candsOfRows(bandRows: DataFrame, b: Int,
                    withSz: Boolean = false): DataFrame = {
      val l = bandRows.select(Seq($"band_id", $"bk", $"doc_id".as("doc_a"),
        $"bks".as("bks_a")) ++ (if (withSz) Seq($"sz".as("sz_a")) else Nil): _*)
      val rr = bandRows.select(Seq($"band_id".as("band_id_r"), $"bk".as("bk_r"),
        $"doc_id".as("doc_b"),
        $"bks".as("bks_b")) ++ (if (withSz) Seq($"sz".as("sz_b")) else Nil): _*)
      val noEarlierMatch =
        if (b == 1) lit(true)
        else (0 until b - 1).map { e =>
          $"band_id" <= e || element_at($"bks_a", e + 1) =!= element_at($"bks_b", e + 1)
        }.reduce(_ && _)
      l.join(rr, $"band_id" === $"band_id_r" && $"bk" === $"bk_r" &&
          $"doc_a" < $"doc_b" && noEarlierMatch)
        .select(Seq($"doc_a", $"doc_b") ++
          (if (withSz) Seq($"sz_a", $"sz_b") else Nil): _*)
    }
    def candsOf(b: Int, r: Int): DataFrame = candsOfRows(bandRowsOf(b, r), b)
    // Below the pass bar all three candidate frames are checkpointed
    // (consumed twice each: count + truth/semi-join). Above it the
    // TRUTH config's frame is never materialized whole — see the
    // chunked path below — so only the two swept configs cache here.
    def checkpointed(b: Int, r: Int): DataFrame =
      candsOf(b, r).localCheckpoint(true)
    val hb = sig.select($"doc_id", $"hb")
    val szs = sig.select($"doc_id", size($"hb").cast("long").as("sz"))
    // LOSSLESS size-band prefilter before the array join: J(a,b) =
    // |∩|/|∪| ≤ min(|a|,|b|)/max(|a|,|b|), so a pair can verify at
    // threshold t only if its size ratio reaches t. Sizes are 8-byte
    // columns; the token-hash ARRAYS join only the survivors — at the
    // 100× rehearsal the unfiltered verify intermediate (1.1B candidate
    // rows × both arrays) was what exhausted scratch disk. The 1e-9
    // slack keeps the filter strictly permissive under fp division
    // (extra survivors are re-verified exactly; dropped pairs are
    // dropped by theorem), so the truth set — and the oracle hash —
    // are unchanged.
    val sizeOk = least($"sz_a", $"sz_b").cast("double") >=
      (lit(threshold - 1e-9)) * greatest($"sz_a", $"sz_b").cast("double")
    // exact verify of pairs that already passed the size prefilter:
    // the two token-hash-ARRAY joins + the merge-intersect Jaccard.
    // `hbT` is the array table to probe — the checkpoint-backed frame
    // in the single-plan posture, its keyed copy in the chunked posture
    // (see below).
    def verifyExact(pairs: DataFrame, hbT: DataFrame = hb): DataFrame = pairs
      .join(hbT.select($"doc_id".as("doc_a"), $"hb".as("hb_a")), "doc_a")
      .join(hbT.select($"doc_id".as("doc_b"), $"hb".as("hb_b")), "doc_b")
      .filter(sortedJaccard($"hb_a", $"hb_b") >= threshold)
      .select($"doc_a", $"doc_b")
    def verifyTruth(cands: DataFrame): DataFrame = verifyExact(cands
      .join(szs.select($"doc_id".as("doc_a"), $"sz".as("sz_a")), "doc_a")
      .join(szs.select($"doc_id".as("doc_b"), $"sz".as("sz_b")), "doc_b")
      .filter(sizeOk)
      .select($"doc_a", $"doc_b"))
    // The posture decision reads a cheap UPPER BOUND on the truth
    // config's candidate count: Σ_buckets C(n,2) over (band, key) group
    // sizes — the pre-leftmost-dedup pair mass, a tiny aggregate over
    // the band-row frame (never the pairs themselves). The bound only
    // ever OVERestimates (dedup removes pairs), so the chunked posture
    // can engage early but the proven single-plan shape below the bar
    // is never silently lost to an estimate.
    // Per-bucket C(n,2) in DECIMAL: the long*long product can overflow
    // for a pathological bucket and Column `/` is double division (exact
    // only below 2^53) — decimal keeps the bound exact at any bucket
    // size; n·(n−1) is even so the halving is exact too. The driver-side
    // ceil-divide stays in BigDecimal for the same reason, clamped to
    // Int.MaxValue (a bound that asks for 2^31 passes is a capacity
    // refusal, not an arithmetic exception).
    val bound82 = bandRowsOf(8, 2)
      .groupBy($"band_id", $"bk").agg(count(lit(1)).as("n"))
      .agg(coalesce(
        sum($"n".cast("decimal(38,0)") * ($"n" - 1)),
        lit(0).cast("decimal(38,0)")).as("ub2"))
      .head.getDecimal(0).toBigInteger.shiftRight(1)
    val nPasses = bound82
      .add(java.math.BigInteger.valueOf(verifyPairsPerPass - 1))
      .divide(java.math.BigInteger.valueOf(verifyPairsPerPass))
      .max(java.math.BigInteger.ONE)
      .min(java.math.BigInteger.valueOf(Int.MaxValue))
      .intValueExact()
    def r6(d: Double): Double = BigDecimal(d)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def pDetectOf(b: Int, r: Int): Double =
      r6(1.0 - math.pow(1.0 - math.pow(threshold, r), b))
    if (nPasses == 1) {
      // under the bar: the proven single-plan shape — all three frames
      // checkpointed, truth verified in one join, plan-side rollups
      val candFrames = configs.map { case (b, r) =>
        (b, r) -> checkpointed(b, r)
      }.toMap
      val truth = verifyTruth(candFrames((8, 2))).localCheckpoint(true)
      val nTruth = truth.agg(count(lit(1)).as("n_truth"))
      configs.map { case (b, r) =>
        val c = candFrames((b, r))
        val nc = c.agg(count(lit(1)).as("n_candidates"))
        c.join(truth, Seq("doc_a", "doc_b"), "left_semi")
          .agg(count(lit(1)).as("n_detected"))
          .crossJoin(broadcast(nc)).crossJoin(broadcast(nTruth))
          .select(lit(b.toLong).as("n_bands"), lit(r.toLong).as("rows_per_band"),
            lit(pDetectOf(b, r)).as("p_detect_at_threshold"),
            $"n_candidates", $"n_detected",
            when($"n_candidates" > 0,
              round($"n_detected".cast("double") / $"n_candidates".cast("double"), 6))
              .as("detect_precision"),
            when($"n_truth" > 0,
              round($"n_detected".cast("double") / $"n_truth".cast("double"), 6))
              .as("recall_vs_union"))
      }.reduce(_ unionAll _)
    } else {
      // ABOVE the bar (the backfill posture): the (8,2) frame is never
      // materialized whole — the r16 100× rehearsal showed its
      // checkpoint alone (~1.1B rows of block cache) plus the one-shot
      // verify exhausts this box's scratch disk. Candidate GENERATION
      // is chunked BY BUCKET, not by pair hash: pairs exist only within
      // a (band, key) bucket, so slicing the BAND-ROW frame by bucket
      // hash partitions the pair stream exactly — each pass joins only
      // its buckets and the full pair stream is produced ONCE across
      // all passes. (The r16 shape re-ran the band join per pass over
      // ALL buckets and kept 1/k of the pairs — k× pair generation, the
      // measured bulk of the 2009 s 100× record.) The band-row frame is
      // checkpointed once (narrow, pre-pair: 8 rows/doc) so passes scan
      // stored rows; each pass's candidates checkpoint (the true
      // per-chunk count), verify through the size-band prefilter,
      // reduce to truth rows, and FREE their blocks synchronously
      // before the next pass claims the disk. Every candidate lands in
      // exactly one chunk (the leftmost-band dedup is row-local — see
      // candsOfRows), so the summed counts and unioned truth — and the
      // oracle hash — cannot depend on the split (spec-pinned).
      val bandRows82 = bandRowsOf(8, 2).localCheckpoint(true)
      def sliceCol(k: Int) = pmod(xxhash64($"band_id", $"bk"), lit(k))
      // Bucket slices can skew (a slice owns whole buckets): start at
      // the bound-driven count and double while any slice's pair-mass
      // bound exceeds 1.5× the bar (one bounded DECIMAL aggregate per
      // probe). A single bucket above the bar is atomic to a slice, so
      // the doubling is capped at 8× — a pathological bucket then costs
      // one oversized pass, which is exactly the r16 posture's peak,
      // never worse.
      def sliceMassMax(k: Int): java.math.BigInteger = bandRows82
        .groupBy(sliceCol(k).as("slice"), $"band_id", $"bk")
        .agg(count(lit(1)).as("n"))
        .groupBy($"slice")
        .agg(sum($"n".cast("decimal(38,0)") * ($"n" - 1)).as("m2"))
        .agg(coalesce(max($"m2"), lit(0).cast("decimal(38,0)")).as("mx"))
        .head.getDecimal(0).toBigInteger.shiftRight(1)
      val kCap = math.min(nPasses.toLong * 8L, Int.MaxValue.toLong).toInt
      val barX = java.math.BigInteger.valueOf(verifyPairsPerPass)
        .multiply(java.math.BigInteger.valueOf(3)).shiftRight(1)
      var nSlices = nPasses
      while (sliceMassMax(nSlices).compareTo(barX) > 0 && nSlices < kCap)
        nSlices = math.min(nSlices.toLong * 2L, kCap.toLong).toInt
      // Per chunk, ONE streamed generation pass: the candidate count is
      // an observed metric (CollectMetrics rides the plan — no full
      // candidate checkpoint, the 100× phase profile priced that write
      // at ~3 GB/chunk), the size-band prefilter is an inline column
      // comparison on the carried sizes (NOT two 100M-row joins against
      // the size table — the r16 shape ran those per chunk and the
      // profile measured its verify at 150 s of each 208 s chunk), and
      // only the ~1/3 surviving pairs are stored. The exact verify then
      // joins the token-hash arrays against the bounded survivor frame.
      // The token-hash ARRAY table is probed 2x per chunk (doc_a then
      // doc_b). A plain checkpoint taken under AQE reports
      // UnknownPartitioning, so each probe would re-exchange AND
      // re-sort the whole array table (2·k times per curve). Stored
      // ONCE keyed on doc_id ([[Iterates.keyed]]), every chunk's two
      // verify joins get an exchange-free, sort-free array side — only
      // the bounded survivor frame moves. Freed as soon as the truth
      // union is materialized. Same rows joined, same truth set.
      val hbK = graft.operators.Iterates.keyed(hb, "doc_id")
      var nCand82 = 0L
      val parts = (0 until nSlices).map { i =>
        val obs = org.apache.spark.sql.Observation(s"lsh_cand_$i")
        val surv = candsOfRows(bandRows82.filter(sliceCol(nSlices) === i), 8,
          withSz = true)
          .observe(obs, count(lit(1)).as("n"))
          .filter(sizeOk).select($"doc_a", $"doc_b")
          .localCheckpoint(true)
        nCand82 += obs.get("n").asInstanceOf[Long]
        val t = verifyExact(surv, hbK).localCheckpoint(true)
        graft.operators.Iterates.free(surv, blocking = true)
        System.gc()
        t
      }
      val truth = parts.reduce(_ unionAll _).localCheckpoint(true)
      parts.foreach(graft.operators.Iterates.free(_, blocking = true))
      graft.operators.Iterates.free(bandRows82, blocking = true)
      graft.operators.Iterates.free(hbK, blocking = true)
      System.gc()
      val nTruthL = truth.count()
      val rows = configs.map { case (b, r) =>
        val (ncL, ndetL) =
          if ((b, r) == (8, 2))
            // truth ⊆ cand82 by construction — the semi-join is the
            // identity on the truth config; reuse the summed counts
            (nCand82, nTruthL)
          else {
            // swept configs stay ~linear in corpus scale (that is what
            // the curve demonstrates) — a bounded checkpoint each,
            // freed once both counts are read
            val c = checkpointed(b, r)
            val n = c.count()
            val d = c.join(truth, Seq("doc_a", "doc_b"), "left_semi").count()
            graft.operators.Iterates.free(c, blocking = true)
            (n, d)
          }
        (b.toLong, r.toLong, pDetectOf(b, r), ncL, ndetL,
          if (ncL > 0) Some(r6(ndetL.toDouble / ncL.toDouble)) else None,
          if (nTruthL > 0) Some(r6(ndetL.toDouble / nTruthL.toDouble)) else None)
      }
      // driver-assembled report (7 tuples): same schema, same HALF_UP
      // rounding as the plan-side rollup — values are hash-identical
      truth.sparkSession.createDataFrame(rows)
        .toDF("n_bands", "rows_per_band", "p_detect_at_threshold",
          "n_candidates", "n_detected", "detect_precision", "recall_vs_union")
    }
  }

  /** CROSS-SOURCE duplication matrix — which sources duplicate which:
    * the diagnostic that decides whether a new crawl adds signal or
    * re-serves an existing source (and which source to keep when
    * survivorship is by source priority). Near-dup pairs from the
    * banded LSH join, each endpoint resolved to its source, pair
    * canonicalized (least, greatest) so the matrix is upper-triangular
    * regardless of doc_id order; diagonal = within-source duplication.
    * Shuffle shape: the LSH pair set (already candidate-bounded, never
    * all-pairs) equi-joins the (doc_id → source) projection twice on
    * doc_id, then one partial-agg exchange on the source pair — the
    * lookup side is column-pruned to 2 columns at the scan. */
  def crossSourceMatrix(s: SparkSession, dir: String,
                        threshold: Double = 0.9): DataFrame = {
    val src = Tables.documents(s, dir).select($"doc_id", $"source")
    minhashLshPairs(s, dir, threshold)
      .select($"doc_a", $"doc_b")
      .join(src.select($"doc_id".as("doc_a"), $"source".as("raw_a")), "doc_a")
      .join(src.select($"doc_id".as("doc_b"), $"source".as("raw_b")), "doc_b")
      .groupBy(
        least($"raw_a", $"raw_b").as("source_a"),
        greatest($"raw_a", $"raw_b").as("source_b"))
      .agg(count(lit(1)).as("n_pairs"))
  }

  /** Duplicate CLUSTERS: connected components over the near-dup pair
    * graph — the step a training pipeline actually runs after LSH (keep
    * one doc per cluster). cluster_id = the component's minimum doc_id. */
  def dupClusters(s: SparkSession, dir: String, threshold: Double = 0.9): DataFrame = {
    val nodes = Tables.documents(s, dir).select($"doc_id")
    val pairs = minhashLshPairs(s, dir, threshold).select($"doc_a", $"doc_b")
    clustersFromPairs(nodes, pairs)
  }

  /** Min-label propagation to a fixpoint, FRONTIER (delta) style: labels
    * only ever decrease, so after round 1 messages flow only from nodes
    * whose label changed last round — later rounds touch the shrinking
    * frontier, not every edge. Each iteration is one join+aggregate;
    * lineage is truncated per round (localCheckpoint) so plans stay
    * bounded. Converges in O(component diameter) rounds — the right
    * cost model for DENSE near-dup components (diameter 1-3). If the
    * graph is adversarially chain-shaped and the loop has not converged
    * within `frontierRounds`, it FALLS BACK to the O(log n)
    * large-star/small-star contraction ([[starClusters]]) instead of
    * burning a round per hop — same API, same result. */
  def clustersFromPairs(nodes: DataFrame, pairs: DataFrame,
                        frontierRounds: Int = 15): DataFrame = {
    val edges = pairs.select($"doc_a".as("ea"), $"doc_b".as("eb"))
      .unionAll(pairs.select($"doc_b".as("ea"), $"doc_a".as("eb")))
      .localCheckpoint(true)
    var labels = nodes.select($"doc_id", $"doc_id".as("cluster_id"))
      .localCheckpoint(true)
    var frontier = labels // round 1: every node announces
    // the round's live checkpoint (init labels, then each `updated`):
    // superseded the moment the next round's frame materializes —
    // freed eagerly so a long propagation never accumulates dead
    // label generations in the block manager (the graph-iterate
    // posture fix; see operators.Iterates)
    var prevCp = labels
    var iter = 0
    while (frontier.limit(1).count() > 0 && iter < frontierRounds) {
      val neighborMin = edges
        .join(frontier.select($"doc_id".as("eb"), $"cluster_id".as("flabel")), "eb")
        .groupBy($"ea")
        .agg(min($"flabel").as("nmin"))
      val updated = labels.join(neighborMin, $"doc_id" === $"ea", "left")
        .select($"doc_id",
          least($"cluster_id", coalesce($"nmin", $"cluster_id")).as("cluster_id"),
          ($"nmin" < $"cluster_id").as("chg"))
        .localCheckpoint(true)
      frontier = updated.filter($"chg" === true).select($"doc_id", $"cluster_id")
      labels = updated.select($"doc_id", $"cluster_id")
      graft.operators.Iterates.free(prevCp)
      prevCp = updated
      iter += 1
    }
    if (frontier.limit(1).count() > 0) starClusters(nodes, pairs)
    else labels
  }

  /** Connected components by alternating LARGE-STAR / SMALL-STAR edge
    * contraction (Kiveris et al., "Connected Components in MapReduce and
    * Beyond", SoCC'14): each round rewires every node's larger (resp.
    * not-larger) neighbors to its neighborhood minimum, halving
    * component "height" per round — O(log n) rounds on ANY graph shape,
    * including the chains that cost the frontier loop one round per
    * hop. Each round is two groupBy-min + join passes over the edge
    * set; lineage truncated per round. Fixpoint = the edge set is a
    * stable star forest: every remaining edge is (node, component-min). */
  def starClusters(nodes: DataFrame, pairs: DataFrame,
                   maxIters: Int = 50): DataFrame = {
    var edges = pairs.select($"doc_a".as("u"), $"doc_b".as("v"))
      .filter($"u" =!= $"v")
      .distinct()
      .localCheckpoint(true)
    var converged = false
    var iter = 0
    while (!converged && iter < maxIters) {
      // LARGE-STAR: symmetric neighborhoods; every neighbor v > u is
      // rewired to m(u) = min(N(u) ∪ {u})
      val sym = edges.unionAll(edges.select($"v".as("u"), $"u".as("v")))
      val mins = sym.groupBy($"u").agg(least(min($"v"), first($"u")).as("m"))
      val large = sym.join(mins, "u")
        .filter($"v" > $"u")
        .select($"v".as("u"), $"m".as("v"))
        .filter($"u" =!= $"v")
        .distinct()
      // SMALL-STAR: direct each edge large→small; every not-larger
      // neighbor (and u itself) is rewired to the directed minimum
      val directed = large.select(
        greatest($"u", $"v").as("u"), least($"u", $"v").as("v"))
      val dmins = directed.groupBy($"u").agg(min($"v").as("m"))
      val small = directed.join(dmins, "u")
        .select(explode(array(
          struct($"v".as("a"), $"m".as("b")),
          struct($"u".as("a"), $"m".as("b")))).as("e"))
        .select($"e.a".as("u"), $"e.b".as("v"))
        .filter($"u" =!= $"v")
        .distinct()
        .localCheckpoint(true)
      // fixpoint probe: both sides are distinct sets, so equal counts +
      // an empty anti-join ⟺ set equality. The anti-join short-circuits
      // at the first novel edge (limit 1) — one hash-join pass instead
      // of exceptAll's full multiset-difference aggregation per round.
      converged = small.count() == edges.count() &&
        small.join(edges, Seq("u", "v"), "left_anti").limit(1).count() == 0
      val prev = edges
      edges = small
      // the fixpoint probe above was the last read of the superseded
      // round's edge set — drop its blocks before the next contraction
      graft.operators.Iterates.free(prev)
      iter += 1
    }
    require(converged, s"starClusters did not converge in $maxIters rounds")
    // stable star forest: every edge points a node at its component min
    val labels = edges.groupBy($"u".as("doc_id")).agg(min($"v").as("cluster_id"))
    nodes.select($"doc_id")
      .join(labels, Seq("doc_id"), "left")
      .select($"doc_id", coalesce($"cluster_id", $"doc_id").as("cluster_id"))
  }

  /** CLUSTER-SIZE HISTOGRAM — the dedup health report read before any
    * survivor set ships: how many near-dup clusters of each size exist
    * and how many documents they absorb. A fat tail (one 10k-doc
    * cluster) means a template/mirror dominating the corpus; a spike at
    * size 2 means crawl-level re-fetching. Two tiny aggregates over the
    * CC labels — the output is O(distinct sizes) rows. */
  def clusterSizes(s: SparkSession, dir: String, threshold: Double = 0.9): DataFrame =
    dupClusters(s, dir, threshold)
      .groupBy($"cluster_id").agg(count(lit(1)).as("sz"))
      .groupBy($"sz".as("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"),
        sum($"sz").as("n_docs"))

  /** The deduplicated corpus: keep exactly one document per near-dup
    * cluster (the minimum doc_id). This is the operator a training
    * pipeline actually ships — pairs and clusters are its evidence. */
  def dedupSurvivors(s: SparkSession, dir: String, threshold: Double = 0.9): DataFrame = {
    val survivors = dupClusters(s, dir, threshold)
      .filter($"doc_id" === $"cluster_id")
      .select($"doc_id")
    Tables.documents(s, dir)
      .join(survivors, "doc_id")
      .select($"doc_id", $"lang", $"source", $"n_chars")
  }

  /** SEMANTIC deduplication (the SemDeDup recipe, Abbas et al. 2023):
    * embedding-space near-dup pairs → connected components → keep one
    * representative per component. Textually distinct rewrites of the
    * same content — which MinHash/SimHash cannot see — collapse here.
    * Composition of two pieces that each hold their own scale contract:
    * [[embeddingNearDup]] (within-block pairs, hot-block guard; swap in
    * [[graft.operators.Similarity.srpNearDupPairs]] as the pair source
    * when blocks outgrow the quadratic budget — [[clustersFromPairs]]
    * is agnostic to where edges come from) and the frontier-style
    * min-label propagation. Survivor rule: the component's minimum
    * vec_id, same as the fingerprint-dedup path. */
  def semanticSurvivors(s: SparkSession, dir: String,
                        threshold: Double = 0.4): DataFrame = {
    val emb = Tables.embeddings(s, dir).select($"vec_id", $"label")
    val pairs = embeddingNearDup(s, dir, threshold)
      .select($"vec_a".as("doc_a"), $"vec_b".as("doc_b"))
    val survivors = clustersFromPairs(emb.select($"vec_id".as("doc_id")), pairs)
      .filter($"doc_id" === $"cluster_id")
      .select($"doc_id".as("vec_id"))
    emb.join(survivors, "vec_id").select($"vec_id", $"label")
  }

  // ---- SimHash --------------------------------------------------------

  val SimhashBits = 48

  /** Weighted 48-bit SimHash from a token-hash array column: bit b is set
    * iff 2·(#tokens with bit b set) >= #tokens (the multiset sign rule).
    * Native codegen kernel (SimhashExpr) — one compiled loop per row
    * instead of 48 interpreted lambda dispatches per token. */
  def simhashFromHashes(hs: Column): Column =
    org.apache.spark.sql.graftbridge.Bridge.column(
      graft.functions.SimhashExpr(
        org.apache.spark.sql.graftbridge.Bridge.expression(hs), SimhashBits))

  /** Per-doc SimHash signatures (oracle-checkable). The token-hash array
    * is materialized in its own projection so md5 runs once per token. */
  def simhashSignatures(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select($"doc_id",
        transform(wsTokens(lower($"text")), t => hash60(t)).as("hs"))
      .select($"doc_id", simhashFromHashes($"hs").as("simhash"))

  /** Near-dup pairs with Hamming distance <= maxDist, found by block
    * banding: split the 48 bits into 6 bytes; any pair within distance d
    * <= 5 must agree on >= 1 whole byte (pigeonhole), so bucket-join on
    * (byte_idx, byte_value) and verify exact Hamming via bit_count.
    * The signature itself carries every block value, so LEFTMOST-BLOCK
    * dedup (emit a pair only from the first byte both docs share) makes
    * candidates unique by construction — no dropDuplicates shuffle. */
  def simhashPairs(s: SparkSession, dir: String, maxDist: Int = 5): DataFrame = {
    require(maxDist >= 0 && maxDist <= 5,
      s"pigeonhole banding over 6 byte-blocks is exact only for maxDist <= 5, got $maxDist")
    val sig = simhashSignatures(s, dir)
    val blockStructs = (0 until 6).map { i =>
      struct(lit(i.toLong).as("blk"),
        shiftright($"simhash", i * 8).bitwiseAND(255L).as("blk_val"))
    }
    val blocks = sig
      .select($"doc_id", $"simhash", explode(array(blockStructs: _*)).as("b"))
      .select($"doc_id", $"simhash", $"b.blk".as("blk"), $"b.blk_val".as("blk_val"))
    val l = blocks.select($"blk", $"blk_val", $"doc_id".as("doc_a"), $"simhash".as("sh_a"))
    val r = blocks.select($"blk".as("blk_r"), $"blk_val".as("blk_val_r"),
      $"doc_id".as("doc_b"), $"simhash".as("sh_b"))
    val noEarlierBlock = (0 until 5).map { e =>
      $"blk" <= e ||
        shiftright($"sh_a", e * 8).bitwiseAND(255L) =!=
          shiftright($"sh_b", e * 8).bitwiseAND(255L)
    }.reduce(_ && _)
    l.join(r, $"blk" === $"blk_r" && $"blk_val" === $"blk_val_r" &&
        $"doc_a" < $"doc_b" && noEarlierBlock)
      .withColumn("hamming", bit_count($"sh_a".bitwiseXOR($"sh_b")).cast("long"))
      .filter($"hamming" <= maxDist)
      .select($"doc_a", $"doc_b", $"hamming")
  }

  // ---- n-gram Jaccard with prefix filtering ---------------------------

  /** Exact char-3gram Jaccard join at threshold t via prefix filtering.
    *
    * For |a∩b|/|a∪b| >= t, the overlap must be >= t/(1+t)·(|a|+|b|); if
    * the shingles of each doc are ordered by a GLOBAL order (rarest
    * first) and only the first |s| - ceil(t·|s|) + 1 are indexed, any
    * qualifying pair still collides on >= 1 indexed shingle — so the
    * inverted-index join below is EXACT, not approximate, while indexing
    * only ~(1-t) of each doc's shingles and avoiding the hottest (most
    * frequent) shingles ordering them last. */
  def ngramJaccardPairs(s: SparkSession, dir: String, threshold: Double = 0.35,
                        n: Int = 3): DataFrame = {
    require(threshold > 0 && threshold <= 1, s"threshold must be in (0,1], got $threshold")
    require(n >= 1, s"shingle size must be >= 1, got $n")
    import graft.functions.SortedJaccardExpr
    import org.apache.spark.sql.graftbridge.Bridge
    // hashed shingle sets: set ops on sorted longs, not strings (any
    // collision affects both engines identically — the oracle mirrors)
    val docs = Tables.documents(s, dir)
      .select($"doc_id",
        sort_array(array_distinct(transform(charNgrams($"text", n), g => hash60(g)))).as("gh"))
    // global shingle frequencies → rarity order (freq asc, hash asc);
    // any consistent global order preserves prefix-filter exactness
    val freq = docs.select(explode($"gh").as("gram_h"))
      .groupBy($"gram_h").agg(count(lit(1)).as("df"))
    val exploded = docs
      .select($"doc_id", size($"gh").cast("double").as("sz"), explode($"gh").as("gram_h"))
      .join(freq, "gram_h")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"doc_id").orderBy($"df".asc, $"gram_h".asc)
    // FLOAT-BOUNDARY SAFETY (here and in the bounds below): every ceil /
    // multiply that PRUNES gets an epsilon in the loose direction, so a
    // float rounding up at an exact rational boundary (e.g. t=0.5 with
    // sz*t integral) can only admit one extra candidate — never drop a
    // pair whose jaccard is exactly the threshold. Exactness is then
    // restored by the verify step.
    val Eps = 1e-9
    val prefix = exploded
      .withColumn("pos", row_number().over(w))
      .filter($"pos" <= ($"sz" - ceil($"sz" * threshold - Eps) + 1))
      .select($"gram_h", $"doc_id", $"sz", $"pos")
    // candidates share >= 1 prefix shingle AND pass
    //  - the size bound: jaccard >= t forces t·|b| <= |a| and t·|a| <= |b|
    //  - the PPJoin POSITIONAL bound: matching at prefix positions
    //    (pa, pb) caps the achievable overlap at min(|a|-pa, |b|-pb)+1,
    //    which must reach ceil(t/(1+t)·(|a|+|b|))
    //
    // A pair colliding on k prefix shingles is emitted k times. Unlike
    // the MinHash/SimHash/SRP paths (fixed small band count → leftmost
    // emission is a ~32-byte carry), first-occurrence detection here
    // would carry each doc's variable-length prefix ARRAY through the
    // inverted-index explode — O(prefix²) bytes per doc, worse at scale
    // than the duplicates. So duplicates are deduped AFTER the verify
    // filter instead: the pre-verify candidate-cardinality exchange
    // (the old distinct()) is replaced by a result-cardinality one, and
    // the verify recomputes a pair's jaccard at most k times (k = its
    // matching prefix positions, small by construction: the positional
    // bound tightens as positions grow).
    val overlapNeeded =
      ceil(lit(threshold / (1.0 + threshold)) * (col("a.sz") + col("b.sz")) - Eps)
    val cands = prefix.as("a")
      .join(prefix.as("b"),
        col("a.gram_h") === col("b.gram_h") && col("a.doc_id") < col("b.doc_id") &&
          col("a.sz") >= col("b.sz") * threshold - Eps &&
          col("b.sz") >= col("a.sz") * threshold - Eps &&
          least(col("a.sz") - col("a.pos"), col("b.sz") - col("b.pos")) + 1 >= overlapNeeded)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
    def sortedJaccard(a: Column, b: Column): Column =
      Bridge.column(SortedJaccardExpr(Bridge.expression(a), Bridge.expression(b)))
    cands
      .join(docs.select($"doc_id".as("doc_a"), $"gh".as("g_a")), "doc_a")
      .join(docs.select($"doc_id".as("doc_b"), $"gh".as("g_b")), "doc_b")
      .withColumn("jaccard", sortedJaccard($"g_a", $"g_b"))
      .filter($"jaccard" >= threshold)
      .select($"doc_a", $"doc_b", round($"jaccard", 6).as("jaccard"))
      .distinct()
  }

  // ---- containment (directional sub-document dedup) -------------------

  /** CONTAINMENT JOIN — directional near-dup detection: every ordered
    * pair (contained, container) with C(A→B) = |A∩B| / |A| >= t over
    * distinct hashed word w-shingle sets. Jaccard ([[ngramJaccardPairs]])
    * is blind to exactly this case: a short document quoted whole inside
    * a long one has tiny Jaccard but containment ~1 — the
    * quote/wrapper/aggregator-page signature a curation pass must catch
    * separately (the asymmetric complement of symmetric near-dup).
    *
    * Same prefix-filter machinery as [[ngramJaccardPairs]], adapted to
    * the asymmetric bound: overlap >= ceil(t·|A|) constrains only A, so
    * only the PROBE side is prefix-cut (first |A| − ceil(t·|A|) + 1
    * shingles in rarest-first order) while the container side indexes
    * every shingle; candidates also pass the size bound
    * |B| >= ceil(t·|A|) and the positional bound
    * min(|A|−pa, |B|−pb) + 1 >= ceil(t·|A|). All bounds carry the 1e-9
    * loose-direction epsilon ([[ngramJaccardPairs]]'s float-boundary
    * discipline) and the exact `array_intersect` verify restores
    * exactness; candidate duplicates are deduped after the verify (same
    * trade as the Jaccard path). Docs with no shingle (< w tokens) have
    * undefined containment and emit no row, in both engines. */
  def containmentPairs(s: SparkSession, dir: String, threshold: Double = 0.8,
                       w: Int = 3): DataFrame =
    containmentPairsFrom(Tables.documents(s, dir), threshold, w)

  /** Core of [[containmentPairs]] over any (doc_id, text) frame. */
  def containmentPairsFrom(docsIn: DataFrame, threshold: Double = 0.8,
                           w: Int = 3): DataFrame = {
    require(threshold > 0 && threshold <= 1,
      s"threshold must be in (0,1], got $threshold")
    require(w >= 1, s"shingle size must be >= 1, got $w")
    val docs = docsIn
      .select($"doc_id", wsTokens(lower($"text")).as("tk"))
      .select($"doc_id", sort_array(array_distinct(
        transform(wordShinglesOf($"tk", w), g => hash60(g)))).as("gh"))
      .filter(size($"gh") >= 1)
    val freq = docs.select(explode($"gh").as("g"))
      .groupBy($"g").agg(count(lit(1)).as("df"))
    val ranked = docs
      .select($"doc_id", size($"gh").cast("double").as("sz"), explode($"gh").as("g"))
      .join(freq, "g")
      .withColumn("pos", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy($"doc_id").orderBy($"df".asc, $"g".asc)))
      .select($"g", $"doc_id", $"sz", $"pos")
    val Eps = 1e-9
    val need = ceil(col("a.sz") * threshold - Eps)
    val probe = ranked.filter($"pos" <= ($"sz" - ceil($"sz" * threshold - Eps) + 1))
    val cands = probe.as("a")
      .join(ranked.as("b"),
        col("a.g") === col("b.g") && col("a.doc_id") =!= col("b.doc_id") &&
          col("b.sz") >= need &&
          least(col("a.sz") - col("a.pos"), col("b.sz") - col("b.pos")) + 1 >= need)
      .select(col("a.doc_id").as("doc_in"), col("b.doc_id").as("doc_out"))
    cands
      .join(docs.select($"doc_id".as("doc_in"), $"gh".as("g_a")), "doc_in")
      .join(docs.select($"doc_id".as("doc_out"), $"gh".as("g_b")), "doc_out")
      .withColumn("n_shared", size(array_intersect($"g_a", $"g_b")).cast("long"))
      .withColumn("c", $"n_shared" / size($"g_a"))
      .filter($"c" >= threshold)
      .select($"doc_in".as("contained_doc"), $"doc_out".as("container_doc"),
        $"n_shared", round($"c", 6).as("containment"))
      .distinct()
  }

  // ---- embedding near-dup ---------------------------------------------

  /** Cosine-threshold near-dup pairs over embeddings. Exact semantics:
    * label-blocked pair join (the coarse quantizer here is the given
    * label; Similarity.srpNearDupPairs is the unblocked LSH variant).
    *
    * HOT-BLOCK GUARD: the join is all-pairs WITHIN a label block, i.e.
    * O(block²) — fine for balanced quantizers, a scale-killer if one
    * label absorbs a large corpus fraction. Rather than silently running
    * a quadratic job (or silently degrading to the approximate SRP path,
    * which would change results), any block over `maxBlockRows` fails
    * fast AT EXECUTION TIME with an error naming the hot label and the
    * scale alternative. The check rides the same scan (a tiny label-count
    * aggregate broadcast back onto the rows), so the operator stays lazy. */
  def embeddingNearDup(s: SparkSession, dir: String, threshold: Double = 0.4,
                       maxBlockRows: Long = 20000L): DataFrame =
    embeddingNearDupFrom(
      Tables.embeddings(s, dir)
        .select($"vec_id", $"label", $"embedding".cast("array<double>").as("v")),
      threshold, maxBlockRows)

  /** Core of [[embeddingNearDup]] over any (vec_id, label, v) frame. */
  def embeddingNearDupFrom(e: DataFrame, threshold: Double,
                           maxBlockRows: Long = 20000L): DataFrame = {
    import graft.functions.VectorOps._
    val sizes = e.groupBy($"label").agg(count(lit(1)).as("block_rows"))
    val guardMsg = concat(
      lit(s"embeddingNearDup: label block exceeds maxBlockRows=$maxBlockRows (label="),
      $"label", lit(", rows="), $"block_rows",
      lit(") - quadratic within-block join refused; " +
        "use Similarity.srpNearDupPairs (banded LSH) for hot blocks"))
    val guarded = e.join(broadcast(sizes), "label")
      .withColumn("_blk_guard", when($"block_rows" > maxBlockRows, raise_error(guardMsg)))
      .filter($"_blk_guard".isNull)
    val l = guarded.select($"label", $"vec_id".as("vec_a"), $"v".as("v_a"))
    val r = guarded.select($"label".as("label_r"), $"vec_id".as("vec_b"), $"v".as("v_b"))
    l.join(r, $"label" === $"label_r" && $"vec_a" < $"vec_b")
      .withColumn("cos_sim", round(cosine($"v_a", $"v_b"), 4))
      .filter($"cos_sim" >= threshold)
      .select($"vec_a", $"vec_b", $"cos_sim")
  }

  // ---- KMV sketches: sketch-based distinct & cross-source overlap -----
  //
  // The k-minimum-values sketch (Bar-Yossef et al., RANDOM'02; Beyer et
  // al., SIGMOD'07 "Distinct-Value Synopses") — keep the k smallest
  // values of a uniform hash of each element; the k-th smallest value
  // estimates the distinct count as (k-1)*M/h_(k), and merged sketches
  // estimate union/intersection/Jaccard WITHOUT ever joining the raw
  // corpora. This is the sketch-shaped alternative to
  // [[crossSourceMatrix]]: that one counts verified near-dup PAIRS via
  // the LSH join; this one estimates exact-content overlap from
  // |sources| tiny (k-row) synopses — at 100 TB the overlap audit reads
  // kB of sketch, not the corpus. KMV over the md5-derived hash60 is
  // DETERMINISTIC and engine-neutral, so the estimates themselves
  // hash-compare in the DuckDB gate (as does the deterministic
  // [[hllDistinct]] register sketch below — the two cover the
  // distinct-estimation cost/accuracy spectrum: k·8 B KMV sketches
  // support intersection estimates, 256 B HLL registers merge by MAX).

  /** 2^60 as an (exactly representable) double — the hash60 value range. */
  private val TwoPow60: Double = 1152921504606846976.0

  /** KMV union-estimate over an aggregated sketch: exact when the
    * sketch is not full (it then holds every distinct hash), else the
    * (k-1)*M/h_(k) estimator. Both branches are exactly-rounded double
    * arithmetic mirrored textually in the oracle twin. */
  private def kmvEst(n: Column, maxH: Column, k: Int): Column =
    when(n < k, n.cast("double"))
      .otherwise(lit((k - 1).toDouble) * lit(TwoPow60) / maxH.cast("double"))

  /** Per-source KMV SKETCH rows: the k smallest distinct content hashes
    * (hash60 of the lowercased alphanumeric skeleton — the same
    * fingerprint [[exact]] dedups on), ranked ascending.
    *
    * Shape: one distinct-shuffle on (source, h), then the TWO-PHASE
    * min-k rank (the [[Similarity.topKTwoPhase]] discipline): rank
    * within (source, hash-bucket) first — each of the nBuckets
    * partitions keeps at most k rows, so the final per-source window
    * ranks ≤ nBuckets*k rows, never a whole source's distinct set. At
    * 1000 executors the first window's exchange is the only full-data
    * shuffle and it is map-side bounded. */
  def kmvSketchFrom(docs: DataFrame, k: Int, nBuckets: Int = 32): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 2, s"KMV needs k >= 2, got $k")
    val d = docs
      .select($"source",
        hash60(regexp_replace(lower($"text"), "[^a-z0-9]", "")).as("h"))
      .distinct()
    val w1 = Window.partitionBy($"source", pmod($"h", lit(nBuckets)))
      .orderBy($"h".asc)
    val w2 = Window.partitionBy($"source").orderBy($"h".asc)
    d.withColumn("rk1", row_number().over(w1)).filter($"rk1" <= k)
      .withColumn("rk", row_number().over(w2).cast("long")).filter($"rk" <= k)
      .select($"source", $"rk", $"h")
  }

  /** Per-source distinct-content estimate from the KMV sketch.
    * Output: (source, n_sketch, est_distinct) — est_distinct is EXACT
    * when a source has fewer than k distinct contents (the sketch holds
    * them all). */
  def kmvDistinct(s: SparkSession, dir: String, k: Int = 64): DataFrame =
    kmvSketchFrom(Tables.documents(s, dir), k)
      .groupBy($"source")
      .agg(count(lit(1)).as("n_sketch"), max($"h").as("max_h"))
      .select($"source", $"n_sketch",
        round(kmvEst($"n_sketch", $"max_h", k), 2).as("est_distinct"))

  /** Pairwise cross-source overlap estimates from MERGED KMV sketches
    * (Beyer et al., SIGMOD'07 §4: the k smallest of a sketch union is a
    * valid sketch of the set union; the fraction of its values present
    * in both input sketches estimates Jaccard). Output per source pair:
    * (source_a, source_b, n_union_sketch, jaccard_est, union_est,
    * inter_est).
    *
    * Everything after sketch construction touches ≤ |sources|·k rows:
    * the pair frame is a broadcast nested-loop over the tiny distinct
    * source list, the tagging joins are broadcast equi-joins, and the
    * merge-rank window partitions ≤ 2k rows per pair. No cross-source
    * join of raw documents anywhere — that is the entire point. */
  def kmvOverlap(s: SparkSession, dir: String, k: Int = 64): DataFrame =
    kmvOverlapFrom(kmvSketchFrom(Tables.documents(s, dir), k), k)

  /** Core of [[kmvOverlap]] over any (source, rk, h) sketch frame. */
  def kmvOverlapFrom(sketch: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val srcs = sketch.select($"source").distinct()
    val pairs = srcs.select($"source".as("source_a"))
      .join(broadcast(srcs.select($"source".as("source_b"))),
        $"source_a" < $"source_b")
    val tagged = pairs
      .join(sketch.select($"source".as("source_a"), $"h"), Seq("source_a"))
      .select($"source_a", $"source_b", $"h",
        lit(1).as("in_a"), lit(0).as("in_b"))
      .unionByName(pairs
        .join(sketch.select($"source".as("source_b"), $"h"), Seq("source_b"))
        .select($"source_a", $"source_b", $"h",
          lit(0).as("in_a"), lit(1).as("in_b")))
    val merged = tagged
      .groupBy($"source_a", $"source_b", $"h")
      .agg(max($"in_a").as("in_a"), max($"in_b").as("in_b"))
    val wU = Window.partitionBy($"source_a", $"source_b").orderBy($"h".asc)
    val agg = merged
      .withColumn("rk", row_number().over(wU)).filter($"rk" <= k)
      .groupBy($"source_a", $"source_b")
      .agg(count(lit(1)).as("n_union_sketch"), max($"h").as("max_h"),
        sum(($"in_a" * $"in_b").cast("long")).as("n_both"))
    val rho = $"n_both".cast("double") / $"n_union_sketch".cast("double")
    val uEst = kmvEst($"n_union_sketch", $"max_h", k)
    agg.select($"source_a", $"source_b", $"n_union_sketch",
      round(rho, 6).as("jaccard_est"),
      round(uEst, 2).as("union_est"),
      round(rho * uEst, 2).as("inter_est"))
  }

  // ---- HyperLogLog: engine-neutral register sketch --------------------
  //
  // The HLL sketch (Flajolet, Fusy, Gandouet & Meunier, AofA'07) with a
  // DETERMINISTIC register layout: registers are carved out of the same
  // md5-derived hash60 every other sketch here uses (top 8 bits →
  // register, remaining 52 bits → rank), so unlike engine-native
  // approx_count_distinct sketches (whose register values differ per
  // engine and can only be bound-checked, see rel_approx_distinct) the
  // registers AND the estimate hash-compare exactly in the DuckDB gate.
  // Where KMV keeps the k smallest hashes (k·8 B per source), HLL keeps
  // one 6-bit rank per register (256 B per source at p=8) and merges by
  // register-wise MAX — the 100 TB posture: every partition sketches
  // independently, merge is a 256-row agg, and a cross-source union
  // estimate never rescans any corpus.

  /** Register count exponent p: 2^8 = 256 registers — relative error
    * ~1.04/√256 ≈ 6.5%. */
  private val HllRemBits = 52 // 60-bit hash minus the 8 register bits

  /** Per-source HLL REGISTER rows (source, reg, mj): mj = max over the
    * source's contents of (#leading zero bits of the 52-bit remainder)
    * + 1 ∈ [1, 53]. No distinct pass — register max absorbs repeats by
    * construction, so the whole build is ONE partial-aggregated shuffle
    * of ≤ 256 rows per source. Rank via the minimal binary rendering
    * (both engines' `bin` strips leading zeros; rem = 0 ⇒ all 52 bits
    * zero ⇒ rank 53). */
  /** (register, rank) columns of a hash60 column — shared by the batch
    * sketch and [[graft.streaming.Streams]]'s windowed maintenance so
    * the layouts cannot drift. */
  private[graft] def hllParts(h: Column): (Column, Column) = {
    val rem = h.bitwiseAND(lit((1L << HllRemBits) - 1))
    (shiftright(h, HllRemBits),
      when(rem === 0, lit(HllRemBits + 1))
        .otherwise(lit(HllRemBits + 1) - length(bin(rem))).cast("long"))
  }

  def hllRegistersFrom(docs: DataFrame): DataFrame = {
    val (reg, rho) = hllParts($"h")
    docs
      .select($"source",
        hash60(regexp_replace(lower($"text"), "[^a-z0-9]", "")).as("h"))
      .select($"source", reg.as("reg"), rho.as("rho"))
      .groupBy($"source", $"reg").agg(max($"rho").as("mj"))
  }

  /** HLL estimate columns over a grouped register frame. The harmonic
    * denominator Σ 2^−mj is carried as the INTEGER Σ 2^(53−mj) (every
    * term and the ≤ 256·2^53 sum are exact in BIGINT — no FP ordering
    * hazard across engines); zero registers contribute 2^53 each. The
    * raw-vs-linear-counting branch follows the paper: E ≤ 2.5m with
    * empty registers → m·ln(m/V). The single terminal ln/÷ are the one
    * FP step, rounded at 4 dp (the text-suite ln-parity discipline). */
  private[operators] def hllEstFrom(regs: DataFrame, key: Column): DataFrame = {
    val m = 256.0
    val grouped = regs.groupBy(key.as("source"))
      .agg(count(lit(1)).as("n_regs"),
        sum(expr("shiftleft(CAST(1 AS BIGINT), CAST(53 - mj AS INT))"))
          .as("s_present"))
    val vZero = lit(256L) - $"n_regs"
    val sScaled = $"s_present" + vZero * lit(1L << 53)
    val alpha = lit(0.7213) / (lit(1.0) + lit(1.079) / lit(256.0))
    val raw = alpha * lit(m * m) * lit(9007199254740992.0) /
      sScaled.cast("double")
    val est = when(raw <= lit(2.5 * m) && vZero > 0,
      lit(m) * log(lit(m) / vZero.cast("double"))).otherwise(raw)
    grouped.select($"source", vZero.as("n_zero_regs"),
      sScaled.as("s_scaled"), round(est, 4).as("est_hll"))
  }

  /** Per-source + merged-union HLL distinct-content estimates. Output:
    * (source, n_zero_regs, s_scaled, est_hll, n_exact, err_rel) — one
    * row per source plus an `ALL` row whose registers are the
    * register-wise MAX of the per-source sketches (the mergeability
    * demonstration: the union estimate is computed from 256-row
    * sketches, not from data). `n_exact`/`err_rel` are the self-audit
    * columns — the one count-distinct pass a 100 TB deployment would
    * drop, kept here so the gate verifies the estimator's error, not
    * just its determinism. */
  def hllDistinct(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val bySrc = hllRegistersFrom(docs).localCheckpoint(true)
    val regs = bySrc.unionByName(
      bySrc.groupBy($"reg").agg(max($"mj").as("mj"))
        .select(lit("ALL").as("source"), $"reg", $"mj"))
    val fp = docs.select($"source",
      hash60(regexp_replace(lower($"text"), "[^a-z0-9]", "")).as("h"))
    val exact = fp.groupBy($"source").agg(countDistinct($"h").as("n_exact"))
      .unionByName(fp.agg(countDistinct($"h").as("n_exact"))
        .select(lit("ALL").as("source"), $"n_exact"))
    hllEstFrom(regs, $"source").join(exact, Seq("source"))
      .select($"source", $"n_zero_regs", $"s_scaled", $"est_hll", $"n_exact",
        round(abs($"est_hll" - $"n_exact".cast("double")) /
          $"n_exact".cast("double"), 4).as("err_rel"))
  }

  /** DEDUP FUNNEL — the layered "onion" audit of the whole dedup
    * family (the report RefinedWeb-style curation pipelines publish:
    * how much each successive dedup layer removes, Penedo et al.,
    * NeurIPS 2023): per layer, the documents it flags, the documents
    * it flags that NO earlier layer caught (its marginal contribution
    * — the number that justifies running it), and the corpus surviving
    * after the cumulative union. Layers in pipeline order:
    *  1. `exact`       — not the min doc_id of its content-fingerprint
    *     group ([[exact]]'s keeper rule);
    *  2. `neardup`     — dominated in ≥ 1 verified LSH pair (appears as
    *     doc_b of [[minhashLshPairs]], i.e. has a near-dup with a
    *     smaller id) — the PAIR-level greedy flag; the cluster-level
    *     survivor view is registered separately ([[dedupSurvivors]]);
    *  3. `containment` — the contained side of a [[containmentPairs]]
    *     sub-document hit.
    *
    * Shape: each layer is its existing operator's derivation reduced
    * to a distinct doc_id set; one unionAll + a first-flagging-layer
    * aggregate + a 3-row cumulative window. No new heavy machinery —
    * the funnel is exactly as scalable as its layers, and its output
    * is 3 rows whatever the corpus. */
  def dedupFunnel(s: SparkSession, dir: String): DataFrame =
    dedupFunnelFrom(s, Tables.documents(s, dir).select($"doc_id", $"text"))

  /** Core of [[dedupFunnel]] over any (doc_id, text) frame. */
  def dedupFunnelFrom(s: SparkSession, docsIn: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = docsIn.select($"doc_id", $"text")
    val withFp = docs.select($"doc_id",
      md5(regexp_replace(lower($"text"), "[^a-z0-9]", "")).as("fp"))
    val exactFlag = withFp
      .join(withFp.groupBy($"fp").agg(min($"doc_id").as("keep")), "fp")
      .filter($"doc_id" =!= $"keep").select($"doc_id")
    val nearFlag = minhashLshPairsFrom(docs)
      .select($"doc_b".as("doc_id")).distinct()
    val contFlag = containmentPairsFrom(docs)
      .select($"contained_doc".as("doc_id")).distinct()
    val flags = exactFlag
      .select($"doc_id", lit(1L).as("layer_order"), lit("exact").as("layer"))
      .unionByName(nearFlag.select($"doc_id", lit(2L).as("layer_order"),
        lit("neardup").as("layer")))
      .unionByName(contFlag.select($"doc_id", lit(3L).as("layer_order"),
        lit("containment").as("layer")))
    // static layer anchor: a layer that flags NOTHING must still report
    // its zero row — an empty layer is a finding, not a missing row
    import s.implicits.{localSeqToDatasetHolder, newProductEncoder}
    val layers = Seq((1L, "exact"), (2L, "neardup"), (3L, "containment"))
      .toDF("layer_order", "layer")
    val perLayer = layers.join(
      flags.groupBy($"layer_order").agg(count(lit(1)).as("nf")),
      Seq("layer_order"), "left")
    val firstFlag = flags.groupBy($"doc_id").agg(min($"layer_order").as("fl"))
      .groupBy($"fl").agg(count(lit(1)).as("n_new"))
    val total = docs.agg(count(lit(1)).as("n_total"))
    val cum = Window.orderBy($"layer_order")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    perLayer.join(firstFlag, $"layer_order" === $"fl", "left")
      .crossJoin(broadcast(total))
      .select($"layer_order", $"layer",
        coalesce($"nf", lit(0L)).as("n_flagged"),
        coalesce($"n_new", lit(0L)).as("n_new_flagged"), $"n_total")
      .withColumn("n_surviving_after",
        $"n_total" - sum($"n_new_flagged").over(cum))
      .select($"layer_order", $"layer", $"n_flagged", $"n_new_flagged",
        $"n_surviving_after")
  }

  // ---- weighted (multiset) Jaccard re-scoring -------------------------

  /** WEIGHTED-JACCARD PAIRS — frequency-weighted (multiset) similarity
    * next to the set-based near-dup join: for every LSH-verified pair
    * at `setThreshold`, the weighted Jaccard
    * J_w = Σ_t min(tf_a, tf_b) / Σ_t max(tf_a, tf_b) over whitespace
    * token frequencies, alongside the set Jaccard that admitted it.
    * Set similarity is blind to REPETITION: a document and its
    * boilerplate-padded copy (same vocabulary, different token counts)
    * score 1.0 on sets while J_w drops with the padding — the
    * divergence between the two columns is the pair-level repetition
    * signal next to [[graft.operators.TextAnalysis]]'s per-doc
    * repetition score.
    *
    * Engine-neutral reduction: J_w with INTEGER weights equals the
    * plain SET Jaccard of the occurrence-indexed expansion
    * {(t, i) : 0 <= i < tf(t)} — min/max of counts decompose per
    * occurrence (the same reduction that makes unweighted MinHash
    * estimate integer-weighted similarity). So the verify reuses the
    * [[graft.functions.SortedJaccardExpr]] codegen merge kernel over
    * per-doc sorted `hash60(token#o<i>)` arrays — no new kernel, no
    * per-pair allocation — and the oracle mirrors the same expansion
    * textually. Expanded features are Σ tf = doc length elements (vs
    * distinct-count for sets): one narrow projection + two bounded
    * exchanges (tf count, per-doc collect), linear in corpus size.
    * Candidates stay the banded LSH join's — never all-pairs. */
  def weightedJaccardPairs(s: SparkSession, dir: String,
                           setThreshold: Double = 0.7): DataFrame =
    weightedJaccardPairsFrom(
      Tables.documents(s, dir).select($"doc_id", $"text"), setThreshold)

  /** Core of [[weightedJaccardPairs]] over any (doc_id, text) frame. */
  def weightedJaccardPairsFrom(docsIn: DataFrame,
                               setThreshold: Double): DataFrame = {
    import graft.functions.SortedJaccardExpr
    import org.apache.spark.sql.graftbridge.Bridge
    val docs = docsIn.select($"doc_id", $"text")
    val pairs = minhashLshPairsFrom(docs, setThreshold)
    val tf = docs
      .select($"doc_id", explode(wsTokens($"text")).as("tok"))
      .groupBy($"doc_id", $"tok").agg(count(lit(1)).as("c"))
    val expanded = tf.select($"doc_id",
      explode(transform(sequence(lit(0L), $"c" - lit(1L)),
        i => hash60(concat($"tok", lit("#o"), i.cast("string"))))).as("eh"))
    val whb = expanded.groupBy($"doc_id")
      .agg(sort_array(collect_set($"eh")).as("wh"))
    def sortedJaccard(a: Column, b: Column): Column =
      Bridge.column(SortedJaccardExpr(Bridge.expression(a), Bridge.expression(b)))
    pairs
      .join(whb.select($"doc_id".as("doc_a"), $"wh".as("wh_a")), "doc_a")
      .join(whb.select($"doc_id".as("doc_b"), $"wh".as("wh_b")), "doc_b")
      .select($"doc_a", $"doc_b", $"jaccard",
        round(sortedJaccard($"wh_a", $"wh_b"), 6).as("w_jaccard"))
  }

  // ---- TF-IDF cosine all-pairs (Bayardo prefix filter) ----------------

  /** TF-IDF COSINE PAIRS — the exact all-pairs similarity join over
    * tf·idf-weighted token vectors (Bayardo, Ma & Srikant, WWW'07
    * "Scaling Up All Pairs Similarity Search"): every document pair
    * whose cosine over ln(N/df)-weighted token frequencies reaches the
    * threshold. The weighted complement of [[ngramJaccardPairs]]: set
    * similarity treats every shingle equally, so boilerplate-heavy
    * pairs dominate; idf weighting discounts exactly those tokens, and
    * the cosine join surfaces pairs that share RARE vocabulary — the
    * topical-duplicate signal (same article rewritten) that set joins
    * miss and embedding joins need a model for.
    *
    * Exactness machinery:
    *  - PREFIX FILTER, norm form: order each doc's features by the
    *    global (df asc, hash asc) rarity order; index only the head
    *    positions whose remaining suffix still has ‖suffix‖² ≥ t²·‖v‖².
    *    A pair sharing no indexed feature of one side has all shared
    *    mass inside that side's suffix, so cos ≤ ‖suffix‖/‖v‖ < t —
    *    the index-vs-ALL-features join below is therefore EXACT. The
    *    pruning comparison runs in double with the [[ngramJaccardPairs]]
    *    epsilon-in-the-loose-direction discipline (may admit one extra
    *    candidate at a boundary, never drops a true pair).
    *  - ENGINE-NEUTRAL ARITHMETIC: weights are rounded to 6 dp and
    *    carried as DECIMAL(15,6); squared norms and the verify's dot
    *    product are then sums of exact 12-dp decimals — associativity-
    *    free, so partial-agg order can never move a value — and the
    *    one floating division happens once per pair at the end, in the
    *    same operand order in both engines.
    *
    * Shape for scale: tf/df are two partial-agged exchanges; the
    * inverted-index join shuffles prefix entries against the token
    * table on the token hash, and the rarity order keeps indexed
    * tokens' df small — high-df stopwords sort LAST and fall out of
    * every prefix, so the candidate exchange is bounded by rare-token
    * collisions, never |corpus|². Verify touches candidate pairs only. */
  def tfidfCosinePairs(s: SparkSession, dir: String,
                       threshold: Double = 0.85): DataFrame =
    tfidfCosinePairsFrom(
      Tables.documents(s, dir).select($"doc_id", $"text"), threshold)

  /** Core of [[tfidfCosinePairs]] over any (doc_id, text) frame. */
  def tfidfCosinePairsFrom(docsIn: DataFrame, threshold: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DecimalType
    require(threshold > 0 && threshold < 1,
      s"threshold must be in (0,1), got $threshold")
    val t2 = threshold * threshold
    val Eps = 1e-9
    val docs = docsIn.select($"doc_id", $"text")
    val tf = docs
      .select($"doc_id", explode(wsTokens(lower($"text"))).as("tok"))
      .select($"doc_id", hash60($"tok").as("th"))
      .groupBy($"doc_id", $"th").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy($"th").agg(count(lit(1)).as("df"))
    val nDocs = tf.select($"doc_id").distinct()
      .agg(count(lit(1)).as("n_docs"))
    // dw: 6-dp decimal weight; dsq: its exact 12-dp square
    val weighted = tf.join(df, "th").crossJoin(broadcast(nDocs))
      .withColumn("dw",
        round($"tf".cast("double") *
          log($"n_docs".cast("double") / $"df".cast("double")), 6)
          .cast(DecimalType(15, 6)))
      .filter($"dw" > 0)
      .select($"doc_id", $"th", $"df", $"dw", ($"dw" * $"dw").as("dsq"))
      .localCheckpoint(true)
    val norms = weighted.groupBy($"doc_id").agg(sum($"dsq").as("n2"))
    // prefix: positions (rarity order) whose suffix-from-here mass
    // still reaches t^2 * n2 — the minimal head the bound needs
    // rel_suf = ‖suffix from this feature (inclusive)‖² / ‖v‖²: a pair
    // with cos >= t has its FIRST shared feature f (global order) with
    // cos <= ‖a_{>=f}‖·‖b_{>=f}‖, so f sits in BOTH prefixes AND the
    // suffix-norm product reaches t — the join below is prefix ⋈ prefix
    // with a per-collision product bound, not prefix ⋈ all (measured
    // 124M raw candidates collapsing to ~1% on the template-heavy
    // harness corpus), and still exact
    val prefix = weighted.join(norms, "doc_id")
      .withColumn("before", coalesce(sum($"dsq").over(
        Window.partitionBy($"doc_id").orderBy($"df".asc, $"th".asc)
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0)))
      .withColumn("rel_suf", ($"n2" - $"before").cast("double") /
        $"n2".cast("double"))
      .filter($"rel_suf" >= lit(t2 - Eps))
      .select($"th", $"doc_id", $"rel_suf")
    val cands = prefix.as("p")
      .join(prefix.as("q"),
        col("p.th") === col("q.th") && col("p.doc_id") < col("q.doc_id") &&
          sqrt(col("p.rel_suf")) * sqrt(col("q.rel_suf")) >=
            lit(threshold - Eps))
      .select(col("p.doc_id").as("doc_a"), col("q.doc_id").as("doc_b"))
      .distinct()
      // materialized: the verify chain references the candidate set
      // through THREE differently-keyed exchanges — without the barrier
      // AQE replans each with the 33M-row prefix join inlined (measured
      // 85 s vs 23 s at sf0.1)
      .localCheckpoint(true)
    val num = cands
      .join(weighted.select($"th", $"doc_id".as("doc_a"), $"dw".as("dw_a")),
        Seq("doc_a"))
      .join(weighted.select($"th", $"doc_id".as("doc_b"), $"dw".as("dw_b")),
        Seq("doc_b", "th"))
      .groupBy($"doc_a", $"doc_b").agg(sum($"dw_a" * $"dw_b").as("dot"))
    val cos = $"dot".cast("double") /
      (sqrt(col("na.n2").cast("double")) * sqrt(col("nb.n2").cast("double")))
    num
      .join(norms.as("na"), $"doc_a" === col("na.doc_id"))
      .join(norms.as("nb"), $"doc_b" === col("nb.doc_id"))
      .filter(cos >= threshold)
      .select($"doc_a", $"doc_b", round(cos, 6).as("cosine"))
  }

  // ---- edit-distance entity resolution (dimension strings) ------------

  /** EDIT-DISTANCE NAME PAIRS — character-level fuzzy matching over a
    * dimension's string attribute (part names): every unordered pair of
    * DISTINCT names within Levenshtein distance `maxDist`, each name's
    * row count carried for survivorship weighting. The dedup
    * granularity the token/shingle family cannot see — "smal ring" vs
    * "small ring" shares no whitespace token at all — i.e. typo-level
    * entity resolution.
    *
    * Scale shape, stage by stage:
    *  1. DISTINCT-COLLAPSE: names dedup + count in one partial-agged
    *     exchange — the cardinality reducer. At 100 TB a dimension's
    *     distinct-name space sits orders below its row count; the
    *     verify cost is a function of the former only.
    *  2. LENGTH-BANDED equi-join: ||a|−|b|| <= maxDist is a TRUE lower
    *     bound on edit distance, so length blocking is EXACT-COMPLETE
    *     (first-char / prefix blocking would trade recall silently).
    *     Banding is an equi-join on width-(maxDist+1) length buckets —
    *     the probe side expands to its 3 adjacent buckets (lengths
    *     within maxDist always land within one bucket of each other,
    *     and the build side's bucket is unique, so every qualifying
    *     pair is emitted exactly once) — never a nested-loop join.
    *  3. Within-band the candidate space is quadratic BY CONTRACT —
    *     guarded by an in-plan `raise_error` when the distinct-name
    *     count exceeds `maxNames` (the [[embeddingNearDupFrom]]
    *     fail-fast discipline) — the 10^6+ scale path is
    *     [[editDistancePassJoin]], the implemented PassJoin pigeonhole
    *     segment blocking (Li, Deng, Feng, VLDB'11).
    *  4. `levenshtein` verify — standard unit-cost edit distance,
    *     identical semantics in Spark and DuckDB. */
  def editDistancePairs(s: SparkSession, dir: String, maxDist: Int = 3,
                        maxNames: Long = 100000L): DataFrame = {
    require(maxDist >= 1, s"maxDist must be >= 1, got $maxDist")
    val bucketW = maxDist + 1
    val names = Tables.part(s, dir)
      .groupBy($"p_name".as("name")).agg(count(lit(1)).as("n_rows"))
    val total = names.agg(count(lit(1)).as("n_names"))
    val guardMsg = concat(
      lit(s"editDistancePairs: distinct-name space exceeds maxNames=$maxNames (names="),
      $"n_names",
      lit(") - length-banded quadratic join refused; " +
        "use editDistancePassJoin (PassJoin segment blocking) for large name spaces"))
    val guarded = names.crossJoin(broadcast(total))
      .withColumn("_guard", when($"n_names" > maxNames, raise_error(guardMsg)))
      .filter($"_guard".isNull)
      .select($"name", $"n_rows", length($"name").cast("long").as("len"))
      .withColumn("blk", floor($"len" / bucketW).cast("long"))
    val probe = guarded.select($"name".as("name_a"), $"n_rows".as("n_a"),
        $"len".as("len_a"),
        explode(array($"blk" - 1, $"blk", $"blk" + 1)).as("cand_blk"))
    val build = guarded.select($"name".as("name_b"), $"n_rows".as("n_b"),
      $"len".as("len_b"), $"blk".as("blk_b"))
    probe.join(build, $"cand_blk" === $"blk_b" && $"name_a" < $"name_b" &&
        abs($"len_a" - $"len_b") <= maxDist)
      .withColumn("dist", levenshtein($"name_a", $"name_b").cast("long"))
      .filter($"dist" <= maxDist)
      .select($"name_a", $"name_b", $"dist", $"n_a", $"n_b")
  }

  /** EDIT-DISTANCE NAME PAIRS VIA PASSJOIN — the 10⁶+-name scale path
    * that [[editDistancePairs]]'s fail-fast guard names: pigeonhole
    * SEGMENT blocking (Li, Deng & Feng, "PASS-JOIN: a partition-based
    * method for similarity joins", PVLDB 5(3), 2011). Same output as
    * the length-banded operator — every unordered pair of distinct
    * names within Levenshtein `maxDist` — but the candidate space is
    * an EQUI-JOIN on segment content instead of a within-band
    * quadratic, so no maxNames guard is needed.
    *
    * The pigeonhole: split every indexed name into k = maxDist+1
    * contiguous segments (even-partition convention: with base =
    * ⌊len/k⌋ and rem = len mod k, the FIRST k−rem segments have length
    * base, the rest base+1). If ed(r, s) <= maxDist and |s| <= |r|,
    * the <= maxDist edits can touch at most maxDist of s's k segments,
    * so at least one segment of s appears in r VERBATIM, displaced by
    * at most maxDist positions. So:
    *  - INDEX side: every name of length >= k emits its k (segment
    *    value, segment index, length) keys — k rows per name.
    *  - PROBE side: every name r emits, for each target length
    *    l ∈ [|r|−maxDist, |r|] with l >= k, each segment index i, and
    *    each shift ∈ [−maxDist, maxDist], the substring of r at the
    *    segment-i position of length-l strings — ≤ (maxDist+1)·k·
    *    (2·maxDist+1) bounded rows per name (112 at maxDist=3), a
    *    complete superset of PassJoin's multi-match-aware set.
    *  - The (seg, i, l) equi-join yields candidates; canonicalize to
    *    name_a < name_b, DISTINCT, then one levenshtein verify per
    *    candidate. Short names (len < k, where segments degenerate to
    *    empty) go through a separate exact arm against the bounded
    *    length band [1, k−1+maxDist] — completeness never leans on a
    *    degenerate empty-segment match.
    * Every stage is distinct-collapse → explode → equi-join →
    * partial-agged distinct → verify: shuffles keyed on segment
    * content, no quadratic term, no driver involvement — the shape
    * holds at any dimension cardinality. Exactness (same rows as the
    * quadratic verify) is pinned by the PassJoin == length-banded
    * equality property in DedupSimilaritySpec and by the shared
    * brute-force oracle twin. */
  def editDistancePassJoin(s: SparkSession, dir: String,
                           maxDist: Int = 3): DataFrame = {
    require(maxDist >= 1, s"maxDist must be >= 1, got $maxDist")
    val k = maxDist + 1
    val names = Tables.part(s, dir)
      .groupBy($"p_name".as("name")).agg(count(lit(1)).as("n_rows"))
      .select($"name", $"n_rows", length($"name").cast("long").as("len"))
      .localCheckpoint(true)
    // segment geometry of a length-l string, segment i (0-based):
    // len_i = base + (i >= k - rem ? 1 : 0), 1-based start position
    // start_i = i*base + max(0, i - (k - rem)) + 1
    def segLen(l: Column, i: Column): Column =
      floor(l / k) + when(i >= lit(k) - l % k, 1L).otherwise(0L)
    def segPos(l: Column, i: Column): Column =
      i * floor(l / k) + greatest(lit(0L), i - (lit(k) - l % k)) + 1
    val idx = names.filter($"len" >= k)
      .select($"name".as("name_b"), $"n_rows".as("n_b"), $"len".as("len_b"),
        explode(sequence(lit(0L), lit(k - 1L))).as("i"))
      .select($"name_b", $"n_b", $"len_b", $"i",
        $"name_b".substr(segPos($"len_b", $"i").cast("int"),
          segLen($"len_b", $"i").cast("int")).as("seg"))
    val combos = for {
      dl <- 0 to maxDist; i <- 0 until k; sh <- -maxDist to maxDist
    } yield (dl.toLong, i.toLong, sh.toLong)
    val probe = names
      .select($"name".as("name_a"), $"n_rows".as("n_a"), $"len".as("len_a"),
        explode(typedLit(combos)).as("c"))
      .withColumn("l", $"len_a" - $"c._1").filter($"l" >= k)
      .withColumn("i", $"c._2")
      .withColumn("p", segPos($"l", $"i") + $"c._3")
      .withColumn("sl", segLen($"l", $"i"))
      .filter($"p" >= 1 && $"sl" >= 1 && $"p" + $"sl" - 1 <= $"len_a")
      .select($"name_a", $"n_a", $"i", $"l",
        $"name_a".substr($"p".cast("int"), $"sl".cast("int")).as("seg"))
    val segCands = probe.join(idx,
      probe("seg") === idx("seg") && probe("i") === idx("i") &&
        probe("l") === idx("len_b") && $"name_a" =!= $"name_b")
      .select($"name_a", $"n_a", $"name_b", $"n_b")
    // short arm: names whose segments would degenerate (len < k) pair
    // against the bounded band [1, k-1+maxDist] — tiny by construction
    val shortCands = names.filter($"len" <= (k - 1) + maxDist)
      .select($"name".as("name_a"), $"n_rows".as("n_a"), $"len".as("len_a"))
      .join(broadcast(names.filter($"len" < k)
          .select($"name".as("name_b"), $"n_rows".as("n_b"), $"len".as("len_b"))),
        abs($"len_a" - $"len_b") <= maxDist && $"name_a" =!= $"name_b")
      .select($"name_a", $"n_a", $"name_b", $"n_b")
    val canon = segCands.unionByName(shortCands)
      .select(
        when($"name_a" < $"name_b", $"name_a").otherwise($"name_b").as("name_a"),
        when($"name_a" < $"name_b", $"name_b").otherwise($"name_a").as("name_b"),
        when($"name_a" < $"name_b", $"n_a").otherwise($"n_b").as("n_a"),
        when($"name_a" < $"name_b", $"n_b").otherwise($"n_a").as("n_b"))
      .distinct()
    canon
      .withColumn("dist", levenshtein($"name_a", $"name_b").cast("long"))
      .filter($"dist" <= maxDist)
      .select($"name_a", $"name_b", $"dist", $"n_a", $"n_b")
  }

  // ---- incremental batch LSH index maintenance ------------------------

  /** BATCH INCREMENTAL LSH MAINTENANCE — the batch complement of the
    * streaming near-dup monitor ([[graft.streaming.Streams
    * .nearDupMaintenance]]), closing the incremental-curation loop: an
    * ingestion batch arrives into a standing corpus whose LSH index
    * (banded signatures) is already built, and the job must emit ONLY
    * the pairs the batch introduces — new×standing and new×new — at
    * the full verify quality, WITHOUT re-running the standing×standing
    * join the nightly full dedup already paid for. At 100 TB this is
    * the difference between an O(batch) nightly increment and an
    * O(corpus) rebuild: the standing banded index is the persisted
    * artifact (bucketed by band key), the batch's bands probe it.
    *
    * The batch split here is the engine-neutral coin
    * hash60(doc_id) % batchMod == 0 (a deterministic stand-in for the
    * ingestion-date predicate a production run would use). Shape:
    *  - new×standing: the arriving docs' band rows equi-join the
    *    standing band rows on (band_id, band_key) with the SAME
    *    first-shared-band dedup as the full pair join — the
    *    stream-static shape, executed as a batch;
    *  - new×new: [[minhashLshPairsFrom]] restricted to the batch;
    *  - standing×standing: NEVER JOINED — no plan node touches it.
    * Both arms verify with the exact sorted-Jaccard kernel and the
    * union canonicalizes doc_a < doc_b. CONTRACT (spec-pinned): output
    * == [[minhashLshPairs]] restricted to pairs with at least one new
    * endpoint — incrementality changes cost, never results. */
  def lshIndexAppend(s: SparkSession, dir: String, batchMod: Int = 8,
                     threshold: Double = 0.9): DataFrame = {
    require(batchMod >= 2, s"batchMod must be >= 2, got $batchMod")
    require(threshold > 0 && threshold <= 1,
      s"threshold must be in (0,1], got $threshold")
    val docs = Tables.documents(s, dir).select($"doc_id", $"text")
    val isNew = hash60($"doc_id".cast("string")) % batchMod === 0
    val feats = minhashDocFeatures(docs).localCheckpoint(true)
    lshProbePairs(feats.filter(isNew), feats.filter(!isNew), threshold)
      .unionByName(minhashLshPairsFrom(docs.filter(isNew), threshold))
  }

  /** One (band_id, bk) row per band per doc of an LSH feature frame —
    * the probe/build rows of the incremental band join. `bks` and `hb`
    * ride along so first-shared-band dedup and the exact verify need no
    * extra lookup join. */
  private def explodeBandRows(f: DataFrame): DataFrame = f.select(
    $"doc_id", $"bks", $"hb",
    explode(array((0 until Bands).map(b =>
      struct(lit(b).as("band_id"), element_at($"bks", b + 1).as("bk"))): _*)).as("b"))
    .select($"doc_id", $"bks", $"hb", $"b.band_id".as("band_id"), $"b.bk".as("bk"))

  /** The arriving×standing half of the incremental LSH maintenance
    * contract, over any two [[minhashDocFeatures]]-shaped frames:
    * band-key equi-join with first-shared-band dedup, exact
    * sorted-Jaccard verify, canonical doc_a < doc_b. Shared verbatim by
    * [[lshIndexAppend]] (standing derived in-plan) and
    * [[lshIndexRoundtrip]] (standing loaded from the parquet artifact),
    * so persisted-vs-in-plan equivalence is a property of ONE join, not
    * two implementations. */
  private def lshProbePairs(arrivingFeats: DataFrame,
                            standingFeats: DataFrame,
                            threshold: Double): DataFrame = {
    import graft.functions.SortedJaccardExpr
    import org.apache.spark.sql.graftbridge.Bridge
    val arriving = explodeBandRows(arrivingFeats)
    val standing = explodeBandRows(standingFeats).select(
      $"doc_id".as("dup_doc_id"), $"bks".as("bks_s"), $"hb".as("hb_s"),
      $"band_id".as("band_id_s"), $"bk".as("bk_s"))
    val noEarlierMatch = (0 until Bands - 1).map { e =>
      $"band_id" <= e || element_at($"bks", e + 1) =!= element_at($"bks_s", e + 1)
    }.reduce(_ && _)
    def sortedJaccard(a: Column, b: Column): Column =
      Bridge.column(SortedJaccardExpr(Bridge.expression(a), Bridge.expression(b)))
    arriving.join(standing,
        $"band_id" === $"band_id_s" && $"bk" === $"bk_s" &&
          noEarlierMatch)
      .withColumn("jaccard", sortedJaccard($"hb", $"hb_s"))
      .filter($"jaccard" >= threshold)
      .select(
        least($"doc_id", $"dup_doc_id").as("doc_a"),
        greatest($"doc_id", $"dup_doc_id").as("doc_b"),
        round($"jaccard", 6).as("jaccard"))
  }

  /** DEDUP-INDEX PERSISTENCE — the dedup half of the persisted-artifact
    * story ([[graft.operators.Similarity.writeIvfIndex]] is the vector
    * half): [[lshIndexAppend]]'s docstring calls the standing banded
    * index "the persisted artifact", and these functions make that
    * literal. The artifact is the [[minhashDocFeatures]] frame —
    * (doc_id, bks[Bands] band keys, hb sorted token-hash set), i.e. the
    * candidate-generation keys AND the exact-verify sets — which is
    * everything the nightly increment needs: a batch probes it without
    * ever re-reading the standing corpus TEXT. Unlike the KB-sized
    * IVF/PQ artifacts this one is corpus-PROPORTIONAL (one row per
    * standing doc, ~tokens-sized), so it is written with the writer's
    * partitioning intact (a fleet writes it sharded) — never
    * coalesce(1). Parquet stores BIGINT and BIGINT[] bit-exactly, so a
    * probe against the loaded artifact is bit-identical to a probe
    * against the in-plan build; [[lshIndexRoundtrip]] is the
    * registered, oracle-checked proof. */
  def writeLshIndex(feats: DataFrame, path: String): Unit = {
    val cols = feats.columns.toSet
    require(Set("doc_id", "bks", "hb").subsetOf(cols),
      s"lsh index artifact needs (doc_id, bks, hb) columns, got $cols")
    feats.select($"doc_id", $"bks", $"hb")
      .write.mode("overwrite").parquet(path)
  }

  /** Load the standing LSH index [[writeLshIndex]] persisted. A 0-row
    * artifact is a valid "empty standing corpus" state (the probe join
    * finds nothing); a MISSING path is a deployment error and fails
    * loudly with the parquet read error. */
  def loadLshIndex(s: SparkSession, path: String): DataFrame = {
    val df = s.read.parquet(path)
    val cols = df.columns.toSet
    require(Set("doc_id", "bks", "hb").subsetOf(cols),
      s"not an lsh index artifact at $path: columns $cols")
    df.select($"doc_id",
      $"bks".cast("array<bigint>").as("bks"),
      $"hb".cast("array<bigint>").as("hb"))
  }

  /** Scratch root for [[lshIndexRoundtrip]]'s artifact: one directory
    * per corpus dir (md5-tagged so base and scaled legs never collide),
    * under java.io.tmpdir. */
  private def lshScratch(dir: String): String = {
    val tag = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).take(6).map("%02x".format(_)).mkString
    new java.io.File(new java.io.File(
      sys.props("java.io.tmpdir"), "graft-lsh-index"),
      new java.io.File(dir).getName + "-" + tag).getPath
  }

  /** LSH-INDEX PERSISTENCE ROUND-TRIP — registered and oracle-checked:
    * featurize the standing split ([[lshIndexAppend]]'s coin), PERSIST
    * the standing index to parquet ([[writeLshIndex]]), load it back,
    * and probe the arriving batch entirely against the LOADED artifact
    * — plus the batch's internal pairs — through the SAME
    * [[lshProbePairs]] join the in-plan append uses. Output contract ==
    * [[lshIndexAppend]] (spec-pinned frame equality), and the DuckDB
    * twin is the append twin verbatim (it re-derives everything from
    * raw text with no persistence step), so a hash match IS the
    * load-equivalence proof. This closes the incremental-dedup loop the
    * append op simulates: at 100 TB the standing index is written once
    * per full dedup and every nightly batch loads THIS artifact instead
    * of re-featurizing the corpus — the probe's cost is O(batch +
    * matched buckets), with the corpus text never re-read. */
  def lshIndexRoundtrip(s: SparkSession, dir: String, batchMod: Int = 8,
                        threshold: Double = 0.9): DataFrame = {
    require(batchMod >= 2, s"batchMod must be >= 2, got $batchMod")
    require(threshold > 0 && threshold <= 1,
      s"threshold must be in (0,1], got $threshold")
    val docs = Tables.documents(s, dir).select($"doc_id", $"text")
    val isNew = hash60($"doc_id".cast("string")) % batchMod === 0
    val path = lshScratch(dir)
    writeLshIndex(minhashDocFeatures(docs.filter(!isNew)), path)
    val standing = loadLshIndex(s, path)
    val newDocs = docs.filter(isNew)
    lshProbePairs(minhashDocFeatures(newDocs).localCheckpoint(true), standing,
      threshold)
      .unionByName(minhashLshPairsFrom(newDocs, threshold))
  }
}
