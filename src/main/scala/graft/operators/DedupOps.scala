package graft.operators

import graft._
import graft.Stable._
import graft.functions.MinHashAgg
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession, Encoders}

/** §2.11 deduplication family — the core of a training-data pipeline:
  * exact, n-gram/token Jaccard (oracle-checkable), MinHash+LSH and
  * SimHash (hash-based, property-tested), embedding cosine.
  *
  * Scale design:
  *  - Exact dedup = one hash aggregation on the text (or its md5) —
  *    shuffle carries one row per distinct text.
  *  - Jaccard self-joins are blocked: bounded probe set (doc_id<200)
  *    for the exact-oracle variants; MinHash/LSH banding for the
  *    all-pairs path (candidates only where a band collides, the
  *    at-scale algorithm); SimHash bands 16 bits × 4 for hamming≤k.
  *  - The MinHash signature is computed by a typed Aggregator whose
  *    buffer is k longs — constant-size state per doc, so the shuffle
  *    never carries token sets (see functions.MinHashAgg).
  */
object DedupOps {

  /** distinct (doc_id, token) pairs, optionally bounded to doc_id < cap */
  private def tokenSets(s: SparkSession, d: String, cap: Long = Long.MaxValue): DataFrame =
    Tables.documents(s, d)
      .filter(col("doc_id") < cap)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .distinct()

  /** distinct (doc_id, token-bigram shingle) pairs. Shingles, not
    * unigrams, are the right MinHash input on a shared-vocabulary
    * corpus: unigram token sets of any two documents overlap heavily
    * (measured ~J=0.6 on random testdata docs), which would make every
    * pair a candidate; bigram sets are diverse. */
  private def shingleSets(s: SparkSession, d: String, cap: Long = Long.MaxValue): DataFrame =
    Tables.documents(s, d)
      .filter(col("doc_id") < cap)
      .select(col("doc_id"), expr(
        """explode(zip_with(
          |  slice(split(text, ' '), 1, size(split(text, ' ')) - 1),
          |  slice(split(text, ' '), 2, size(split(text, ' ')) - 1),
          |  (x, y) -> concat(x, '_', y)))""".stripMargin).as("term"))
      .distinct()

  /** exact-Jaccard pairs (a<b) from a (doc_id, term) set table.
    * With `candidates` given, intersections are joined through that
    * (small) pair list instead of all-pairs — the LSH verification
    * path. */
  private def jaccardPairs(tok: DataFrame, threshold: Double,
      candidates: Option[DataFrame] = None): DataFrame = {
    val sizes = tok.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    val a = tok.select(col("doc_id").as("a"), col("term"))
    val b = tok.select(col("doc_id").as("b"), col("term"))
    val inter = (candidates match {
      case Some(cand) => cand.join(a, Seq("a")).join(b, Seq("b", "term"))
      case None => a.join(b, Seq("term")).filter(col("a") < col("b"))
    }).groupBy(col("a"), col("b")).agg(count(lit(1)).as("i"))
    inter
      .join(sizes.select(col("doc_id").as("a"), col("sz").as("sa")), Seq("a"))
      .join(sizes.select(col("doc_id").as("b"), col("sz").as("sb")), Seq("b"))
      .select(col("a"), col("b"),
        round(col("i").cast("double") / (col("sa") + col("sb") - col("i")), 4).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** MinHash(k=32) signatures → 8×4 LSH band collisions → exact-Jaccard
    * verification (J ≥ 0.5) of candidates only — shared by the pair
    * query and the full-corpus LSH clustering. Intersection terms join
    * through the (small) candidate list, never all-pairs.
    *
    * The band key is the raw 4-long signature slice (arrays are
    * joinable), not a rehash of it: with the [[MinHashAgg]] md5 basis
    * that makes the whole candidate chain recomputable in DuckDB —
    * see [[minhashCtesSql]] — so both LSH queries are hash-oracled. */
  private val MinHashK = 32; private val LshBands = 8; private val LshRows = 4

  /** (bands, rows) splits of the k=32 signature swept by
    * dedup_band_sweep — shared with its oracle SQL */
  val BandSweepConfigs = Seq((16, 2), (8, 4), (4, 8))

  /** dedup_embedding_cluster knobs, shared with the oracle SQL and
    * the Round8Spec replica: 4 × 8-bit signature bands (the MinHash
    * banding discipline applied to sign-plane bits) and the declared
    * cosine verification threshold (see the query's scaladoc for why
    * 0.35 on this corpus) */
  val EmbClusterBands = 4
  val EmbClusterBandBits = 8
  val EmbClusterTau = 0.35

  /** declared ceiling on the embedding-LSH candidate mass
    * (Σ k·(k−1)/2 over band-bucket occupancies k) — measured before
    * the banded self-join, refused loudly past it (r11; the 10×
    * scale probe showed dense planted clusters growing the mass
    * quadratically while every other dedup/vector head stayed
    * band-bounded). Session-overridable like the decontam caps. */
  val EmbCandidateMaxPairsKey = "graft.dedup.embCandidateMaxPairs"
  val EmbCandidateMaxPairs = 50000000L
  private def embCandidateCap(s: SparkSession): Long =
    s.conf.get(EmbCandidateMaxPairsKey, EmbCandidateMaxPairs.toString).toLong

  /** readback key (r13, ADVICE r12 #1): after dedup_embedding_cluster's
    * guard runs, the session conf holds the band width the adaptive
    * loop actually selected — an operator can distinguish a default
    * 8-bit run from a silently-widened one (widened runs trade band
    * recall for occupancy and can legitimately differ from a fixed
    * 8-bit layout). A widening past the default additionally logs a
    * WARN naming the width and the priced mass. */
  val EmbEffectiveBandBitsKey = "graft.dedup.embCluster.effectiveBandBits"

  private val log = org.slf4j.LoggerFactory.getLogger("graft.DedupOps")

  /** adaptive re-banding schedule (r12, VERDICT r11 #2): when the
    * priced candidate mass exceeds the cap at the default 8-bit
    * banding, the query re-prices at +4 bits per step — each step one
    * cheap aggregate over the SAME memoized signature table — and runs
    * at the first banding whose mass is legal. Widening trades band
    * recall for occupancy (wider bands collide at 1/2^bits for
    * unrelated vectors); verified-pair CC recovers dense clusters
    * through the collisions that remain. Only when even the widest
    * banding (the full 32-bit signature — exact-signature blocking)
    * still exceeds the cap does the query refuse. */
  val EmbBandWidenStep = 4
  /** full signature width: [[graft.operators.VectorOps.clusterPlanes]]
    * is 32 sign planes → a 32-bit signature */
  val EmbSigBits = 32

  // NOTE (r5): memoizing + caching the signature table across the LSH
  // consumers was built and MEASURED SLOWER at sf0.1 (band_sweep 3.9 s
  // lazy-recompute vs 4.4–5.2 s cached; cluster_lsh 1.96 → 2.5 s):
  // the MinHashAgg over this corpus is cheaper than the cache's
  // array ser/deser, so recomputation wins. At 100 TB the calculus
  // flips — materialize the signatures as a TABLE (bucketed parquet),
  // not an in-memory cache.
  private def minhashVerifiedPairs(s: SparkSession, d: String): DataFrame = {
    val tok = shingleSets(s, d)
    val minhash = udaf(new MinHashAgg(MinHashK))
    val sigs = tok.groupBy(col("doc_id"))
      .agg(minhash(col("term")).as("sig"))
    val bandCols = (0 until LshBands).map(j => slice(col("sig"), j * LshRows + 1, LshRows))
    val banded = sigs.select(col("doc_id"), posexplode(array(bandCols: _*)))
      .select(col("doc_id"), col("pos").as("band"), col("col").as("bsig"))
    val cand = banded.as("x").join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.bsig") === col("y.bsig") &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b")).distinct()
    jaccardPairs(tok, 0.5, candidates = Some(cand))
  }

  /** DuckDB CTE chain recomputing [[minhashVerifiedPairs]] exactly —
    * full-corpus bigram sets, md5-60-bit base hash, the k=32 affine
    * permutations as a literal `seeds` VALUES table (same constants as
    * the Spark aggregator, emitted by [[graft.functions.Md5Hash]]),
    * band collision on the 4-long slice, exact-Jaccard verification.
    * Final relation: `mpairs(a, b, jaccard)`. */
  /** the signature/size prefix shared by [[minhashCtesSql]] and the
    * band-sweep oracle: bigram sets, md5-60-bit base hash, k=32 affine
    * permutations — ends at `msig(doc_id, i, mh)` + `msz(doc_id, sz)`. */
  private def minhashSigSql: String = {
    import graft.functions.Md5Hash
    s"""mtoks AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
       |mbi AS (
       |  SELECT DISTINCT doc_id,
       |    unnest(list_transform(list_zip(ts[1:len(ts)-1], ts[2:len(ts)]),
       |      p -> p[1] || '_' || p[2])) AS term
       |  FROM mtoks),
       |hsh AS (SELECT doc_id, ${Md5Hash.duckHash60("term")} AS h FROM mbi),
       |seeds(i, a, b) AS (VALUES ${Md5Hash.duckSeedRows(MinHashK)}),
       |msig AS (
       |  SELECT doc_id, s.i, min(${Md5Hash.duckPerm("s.a", "s.b", "hsh.h")}) AS mh
       |  FROM hsh CROSS JOIN seeds s GROUP BY doc_id, s.i),
       |msz AS (SELECT doc_id, count(*) AS sz FROM mbi GROUP BY doc_id)"""
      .stripMargin
  }

  private def minhashCtesSql: String =
    s"""$minhashSigSql,
       |mband AS (
       |  SELECT doc_id, i // $LshRows AS band, list(mh ORDER BY i) AS bsig
       |  FROM msig GROUP BY doc_id, i // $LshRows),
       |mcand AS (
       |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
       |  FROM mband x JOIN mband y
       |    ON x.band = y.band AND x.bsig = y.bsig AND x.doc_id < y.doc_id),
       |minter AS (
       |  SELECT c.a, c.b, count(*) AS n
       |  FROM mcand c
       |  JOIN mbi x ON x.doc_id = c.a
       |  JOIN mbi y ON y.doc_id = c.b AND y.term = x.term
       |  GROUP BY c.a, c.b),
       |mpairs AS (
       |  SELECT t.a, t.b,
       |    round(CAST(t.n AS DOUBLE) / (sa.sz + sb.sz - t.n), 4) AS jaccard
       |  FROM minter t
       |  JOIN msz sa ON sa.doc_id = t.a JOIN msz sb ON sb.doc_id = t.b
       |  WHERE round(CAST(t.n AS DOUBLE) / (sa.sz + sb.sz - t.n), 4) >= 0.5)"""
      .stripMargin

  /** near-dup cluster labels, unordered: connected components over the
    * n-gram-Jaccard pair graph (self-loops enroll pairless docs as
    * their own singleton cluster), canonical = min doc_id of the
    * cluster. Shared by dedup_cluster_canonical and the
    * pipeline_clean_corpus composite (which joins it and must not
    * inherit a wasted sort). Memoized per (session, dir): the CC loop
    * runs eagerly at construction, so without the memo each consuming
    * query would re-run the whole pair-generation + propagation. */
  private val canonMemo = SessionMemo[DataFrame]("dedupCanon")

  /** the embedding-cluster signature table (vec_id, sig) — memoized
    * per (session, dir) like [[canonMemo]] so repeated invocations in
    * one session reuse the latched relation AND its checkpoint blocks
    * release deterministically through [[SessionMemo.clear]] (r8
    * ADVICE: a per-call latch leaked blocks to ContextCleaner GC) */
  private val embSigMemo = SessionMemo[DataFrame]("embSig")

  /** the banded view of [[embSignatures]]: one (vec_id, band, bh) row
    * per vector per band — shared by dedup_embedding_cluster (its
    * self-join input AND candidate-mass guard) and the
    * dedup_lsh_bucket_audit pricing query */
  private def embBanded(s: SparkSession, d: String): DataFrame =
    embBandedAt(s, d, EmbClusterBandBits)

  /** the banded signature view at an arbitrary band width (r12): at
    * the default 8 bits this is exactly the 4-band layout the oracle
    * replays; wider widths are the adaptive re-banding's fallback
    * layouts (floor(32/bits) bands over the low bits). */
  private def embBandedAt(s: SparkSession, d: String, bits: Int): DataFrame = {
    val nBands = math.max(EmbSigBits / bits, 1)
    val bandCols = (0 until nBands).map(j =>
      shiftright(col("sig"), j * bits)
        .bitwiseAND(lit((1L << bits) - 1)))
    embSignatures(s, d).select(col("vec_id"), posexplode(array(bandCols: _*)))
      .select(col("vec_id"), col("pos").as("band"), col("col").as("bh"))
  }

  /** Σ k·(k−1)/2 over band-bucket occupancies — the candidate-pair
    * mass of the banded self-join, priced with one aggregate over the
    * memoized signature table BEFORE paying the join. NULL-safe: an
    * empty/bucket-free corpus prices to 0, not an NPE (ADVICE r11). */
  private def priceCandidateMass(banded: DataFrame): Long =
    banded.groupBy(col("band"), col("bh"))
      .agg(count(lit(1)).as("k"))
      .agg(coalesce(sum(col("k") * (col("k") - 1) / 2), lit(0.0))
        .cast("long"))
      .head().getLong(0)

  private def embSignatures(s: SparkSession, d: String): DataFrame =
    embSigMemo(s, d) {
      // one row per corpus vector — the standard "signature table"
      // step of any LSH pipeline, bounded at any scale. Materialized
      // before the banded self-join: both join sides would otherwise
      // re-run the quantize and the 32 plane dots per row.
      // Plan-only paths stay lazy (the GraphOps audit discipline).
      val sigRaw = VectorOps
        .signedProjected(s, d, VectorOps.clusterPlanes, "sig")
        .select(col("vec_id"), col("sig"))
      if (GraphOps.planOnly(s)) sigRaw.cache()
      else sigRaw.localCheckpoint(true)
    }

  /** only the benchmark harness calls this; see [[SessionMemo.clear]] */
  private[graft] def clearMemos(s: SparkSession): Unit = SessionMemo.clear(s)

  private def clusterCanonical(s: SparkSession, d: String): DataFrame =
    canonMemo(s, d) {
      val pairs = jaccardPairs(shingleSets(s, d, cap = 200L), 0.3)
        .select(col("a").as("src"), col("b").as("dst"))
      val docs = Tables.documents(s, d).filter(col("doc_id") < 200L)
        .select(col("doc_id").as("src"), col("doc_id").as("dst"))
      // numParts=1: the pair graph is ≤200 vertices by declared
      // semantics — single-task stages instead of 32 empty tasks per
      // CC iteration (pure scheduling overhead at this size)
      GraphOps.connectedComponents(pairs.unionByName(docs), numParts = 1)
        .select(col("v").as("doc_id"), col("lbl").as("canonical_id"))
    }

  /** SimHash signature width: 60 bits — the Md5Hash base-hash width,
    * so every signature bit is recomputable on the oracle side */
  private val SimHashBits = 60

  /** DuckDB CTE chain recomputing the dedup_simhash signature —
    * tf-weighted bit votes over the md5-60-bit term hash, one
    * generated sum-CASE per bit, bands = 15-bit quotient/remainder
    * arithmetic (no shift builtins needed). Final relation:
    * `sband(doc_id, simhash, band, bh)`. */
  private def simhashCtesSql: String = {
    import graft.functions.Md5Hash
    val bitSums = (0 until SimHashBits).map { i =>
      s"sum(CASE WHEN (h // ${1L << i}) % 2 = 1 THEN tf ELSE -tf END) AS b$i"
    }.mkString(",\n    ")
    val sigSum = (0 until SimHashBits).map { i =>
      s"CASE WHEN b$i > 0 THEN ${1L << i} ELSE 0 END"
    }.mkString(" + ")
    val bandRows = (0 until 4).map(j => s"($j, ${1L << (15 * j)})").mkString(", ")
    s"""stf AS (
       |  SELECT doc_id, term, count(*) AS tf
       |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
       |        FROM documents)
       |  GROUP BY doc_id, term),
       |sh AS (SELECT doc_id, tf, ${Md5Hash.duckHash60("term")} AS h FROM stf),
       |sbits AS (SELECT doc_id,
       |    $bitSums
       |  FROM sh GROUP BY doc_id),
       |ssig AS (SELECT doc_id, $sigSum AS simhash FROM sbits),
       |sband AS (
       |  SELECT doc_id, simhash, bj.j AS band, (simhash // bj.p) % 32768 AS bh
       |  FROM ssig CROSS JOIN (VALUES $bandRows) AS bj(j, p))""".stripMargin
  }

  /** DuckDB CTE chain for bounded token-bigram sets and their pair
    * intersections (toks/bi/sz/inter) — ONE definition shared by the
    * dedup_ngram_jaccard oracle and the cluster oracles so the shingle
    * definition cannot drift between them */
  private val bigramCtesSql =
    """toks AS (SELECT doc_id, string_split(text, ' ') AS ts
      |  FROM documents WHERE doc_id < 200),
      |bi AS (
      |  SELECT DISTINCT doc_id,
      |    unnest(list_transform(list_zip(ts[1:len(ts)-1], ts[2:len(ts)]),
      |      p -> p[1] || '_' || p[2])) AS term
      |  FROM toks),
      |sz AS (SELECT doc_id, count(*) AS sz FROM bi GROUP BY doc_id),
      |inter AS (
      |  SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS i
      |  FROM bi x JOIN bi y ON x.term = y.term AND x.doc_id < y.doc_id
      |  GROUP BY 1, 2)""".stripMargin

  /** DuckDB CTE chain producing the cluster labels (`canon` relation)
    * over the bigram pair graph — composed into both cluster oracles
    * below. Starts with the CTE list only; callers prepend WITH
    * RECURSIVE. */
  private val clusterCtesSql =
    s"""$bigramCtesSql,
       |pairs AS (
       |  SELECT a, b FROM inter
       |  JOIN sz sa ON sa.doc_id = a JOIN sz sb ON sb.doc_id = b
       |  WHERE round(CAST(i AS DOUBLE) / (sa.sz + sb.sz - i), 4) >= 0.3),
       |docs AS (SELECT doc_id FROM documents WHERE doc_id < 200),
       |sym AS (SELECT a AS s, b AS t FROM pairs
       |        UNION SELECT b, a FROM pairs
       |        UNION SELECT doc_id, doc_id FROM docs),
       |walk(v, l) AS (
       |  SELECT doc_id, doc_id FROM docs
       |  UNION
       |  SELECT sym.t, walk.l FROM sym JOIN walk ON sym.s = walk.v),
       |canon AS (SELECT v AS doc_id, min(l) AS canonical_id
       |          FROM walk GROUP BY v)""".stripMargin

  val queries: Map[String, QFn] = Map(
    // exact duplicate groups (may legitimately be empty on this corpus
    // — FIXTURES.md: zero exact dupes at small SF; unit tests plant
    // duplicates in in-memory fixtures)
    "dedup_exact" -> ((s, d) => {
      Tables.documents(s, d)
        .groupBy(col("text"))
        .agg(count(lit(1)).as("n"), min(col("doc_id")).as("first_doc"))
        .filter(col("n") > 1)
        .select(md5(col("text")).as("h"), col("n"), col("first_doc"))
        .orderBy(col("h"))
    }),

    "dedup_jaccard_exact" -> ((s, d) => {
      jaccardPairs(tokenSets(s, d, cap = 200L), 0.6)
        .orderBy(col("a"), col("b"))
    }),

    // dup-rate threshold curve — the tuning table read BEFORE anyone
    // picks "the" dedup threshold: over the bounded probe pairs, how
    // many survive each cut of a 0.50..0.90 ladder. Threshold
    // compares hit exactly in both engines (round(x,4) and the ladder
    // literal both resolve to the nearest double of the same 2dp
    // decimal); the ladder fans out pipeline-side from the bounded
    // pair set.
    "dedup_threshold_curve" -> ((s, d) => {
      val pairs = jaccardPairs(tokenSets(s, d, cap = 200L), 0.0)
      val ladder = Seq(0.5, 0.55, 0.6, 0.65, 0.7, 0.75, 0.8, 0.85, 0.9)
      pairs
        .select(col("jaccard"),
          explode(array(ladder.map(lit): _*)).as("threshold"))
        .groupBy(col("threshold"))
        .agg(count_if(col("jaccard") >= col("threshold")).as("n_pairs"))
        .orderBy(col("threshold"))
    }),

    // directional containment |A∩B| / |A| — the asymmetric near-dup
    // signal Jaccard misses: a short document wholly embedded in a
    // longer one scores low Jaccard but containment ≈ 1 (the
    // sub-document / quotation case a cleaning pipeline must catch).
    // Same bounded probe set and token-set shape as
    // dedup_jaccard_exact; pairs are ORDERED (a ≠ b), threshold on
    // the rounded score.
    "dedup_containment" -> ((s, d) => {
      val tok = tokenSets(s, d, cap = 200L)
      val sizes = tok.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
      val a = tok.select(col("doc_id").as("a"), col("term"))
      val b = tok.select(col("doc_id").as("b"), col("term"))
      a.join(b, Seq("term")).filter(col("a") =!= col("b"))
        .groupBy(col("a"), col("b")).agg(count(lit(1)).as("i"))
        .join(sizes.select(col("doc_id").as("a"), col("sz").as("sa")), Seq("a"))
        .select(col("a"), col("b"),
          round(col("i").cast("double") / col("sa"), 4).as("containment"))
        .filter(col("containment") >= 0.8)
        .orderBy(col("a"), col("b"))
    }),

    // shingle (token-bigram) Jaccard — n-gram variant of the above
    "dedup_ngram_jaccard" -> ((s, d) => {
      jaccardPairs(shingleSets(s, d, cap = 200L), 0.3).orderBy(col("a"), col("b"))
    }),

    // MinHash (k=32) + LSH banding (8 bands × 4 rows): candidates where
    // any band collides, then exact-Jaccard verification of candidates
    // only. HASH-ORACLED: the md5-affine signature basis (Md5Hash)
    // is engine-identical, so DuckDB recomputes the entire
    // sign→band→verify chain (minhashCtesSql); the planted-duplicate
    // property test additionally pins recall.
    "dedup_near_minhash" -> ((s, d) =>
      minhashVerifiedPairs(s, d).orderBy(col("a"), col("b"))),

    // LSH quality audit — the sketch-vs-exhaustive meta-check: on the
    // bounded probe set (doc_id < 200) compute ground truth by
    // ALL-PAIRS exact shingle Jaccard ≥ 0.5 and compare the verified
    // MinHash-LSH pairs against it. Verification makes precision 1 by
    // construction — the audit's information is RECALL, i.e. what the
    // 8×4 banding misses; shipping this number alongside the dedup is
    // how a 100 TB pipeline justifies not running the quadratic
    // truth. All-pairs stays inside the ≤200-doc probe by declared
    // semantics; the LSH side is the same full-corpus derivation the
    // dedup runs, filtered to the probe. Degenerate denominators
    // (no pairs) read as 1.0 — vacuous, declared on both sides.
    // LSH banding-parameter sweep over the SAME k=32 signature — the
    // dedup twin of vec_ann_recall_vs_probes' nprobe curve: for each
    // (bands, rows) split of the signature, candidate-pair volume,
    // verified (J ≥ 0.5) pair count, and candidate precision. More,
    // shorter bands move the S-curve left (more candidates, more
    // recall, lower precision); fewer, longer bands move it right —
    // THE tuning decision a 100 TB dedup makes before paying the
    // verify joins, now measurable instead of theoretical. Everything
    // rides the md5 signature basis, so the whole sweep is DuckDB-
    // recomputable; n_verified varies with banding because
    // verification only sees CANDIDATES (the point of the audit).
    "dedup_band_sweep" -> ((s, d) => {
      val tok = shingleSets(s, d)
      val minhash = udaf(new MinHashAgg(MinHashK))
      val sigs = tok.groupBy(col("doc_id"))
        .agg(minhash(col("term")).as("sig"))
      // ONE banding at the MAX resolution prices all three configs
      // (VERDICT r6 #7 / r7 #7): every swept (bands, rows) split is an
      // aligned coarsening of the finest one — a coarse band of width
      // g = maxBands/bands sub-bands collides  ⟺  ALL g sub-bands
      // collide — so the per-pair BITMASK of colliding sub-bands
      // decides candidacy for every config at once. Replaces 3
      // independent explode + self-join + verify chains with one
      // explode, one self-join, one verify join, and a single-row
      // conditional aggregate (measured r8: 3.78 → ~2 s at sf0.1).
      // Also the at-scale shape: the self-join (the dominant cost,
      // shuffle ∝ band-collision volume) runs on the finest banding,
      // whose collisions are a superset of every config's — no coarser
      // join could be skipped anyway.
      val (maxBands, minRows) = BandSweepConfigs.maxBy(_._1)
      val bandCols = (0 until maxBands).map(j =>
        slice(col("sig"), j * minRows + 1, minRows))
      val banded = sigs.select(col("doc_id"), posexplode(array(bandCols: _*)))
        .select(col("doc_id"), col("pos").as("band"), col("col").as("bsig"))
      // ≤ one row per (a, b, band) by construction, so the power sum
      // IS the collision bitmask
      val masks = banded.as("x").join(banded.as("y"),
          col("x.band") === col("y.band") && col("x.bsig") === col("y.bsig") &&
          col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
          col("x.band").as("band"))
        .groupBy(col("a"), col("b"))
        .agg(sum(expr("shiftleft(CAST(1 AS BIGINT), band)")).as("mask"))
      def isCand(bands: Int) = {
        val g = maxBands / bands
        (0 until bands).map { j =>
          val grp = ((1L << g) - 1L) << (j * g)
          col("mask").bitwiseAND(lit(grp)) === lit(grp)
        }.reduce(_ || _)
      }
      // verify ONCE over the finest config's candidates (the superset)
      val ver = jaccardPairs(tok, 0.5,
          candidates = Some(masks.select(col("a"), col("b"))))
        .select(col("a"), col("b"), lit(1L).as("v"))
      val aggCols = BandSweepConfigs.flatMap { case (bands, _) =>
        Seq(count_if(isCand(bands)).as(s"c$bands"),
          count_if(isCand(bands) && col("v").isNotNull).as(s"v$bands"))
      }
      masks.join(ver, Seq("a", "b"), "left")
        .agg(aggCols.head, aggCols.tail: _*)
        .select(explode(array(BandSweepConfigs.map { case (bands, rows) =>
          struct(lit(bands).cast("int").as("n_bands"),
            lit(rows).cast("int").as("rows_per_band"),
            col(s"c$bands").as("n_candidates"),
            col(s"v$bands").as("n_verified"))
        }: _*)).as("r"))
        .select(col("r.n_bands"), col("r.rows_per_band"),
          col("r.n_candidates"), col("r.n_verified"),
          when(col("r.n_candidates") === 0L, lit(1.0))
            .otherwise(r4(col("r.n_verified").cast("double") /
              col("r.n_candidates"))).as("precision"))
        .orderBy(col("n_bands"))
    }),

    "dedup_lsh_quality_audit" -> ((s, d) => {
      val truth = jaccardPairs(shingleSets(s, d, cap = 200L), 0.5)
        .select(col("a"), col("b"), lit(1).as("t"))
      val lsh = minhashVerifiedPairs(s, d)
        .filter(col("a") < 200L && col("b") < 200L)
        .select(col("a"), col("b"), lit(1).as("l"))
      truth.join(lsh, Seq("a", "b"), "full_outer")
        .agg(count_if(col("t").isNotNull).as("n_truth"),
          count_if(col("l").isNotNull).as("n_lsh"),
          count_if(col("t").isNotNull && col("l").isNotNull).as("n_common"))
        .select(col("n_truth"), col("n_lsh"), col("n_common"),
          when(col("n_truth") === 0L, lit(1.0))
            .otherwise(r4(col("n_common").cast("double") / col("n_truth")))
            .as("recall"),
          when(col("n_lsh") === 0L, lit(1.0))
            .otherwise(r4(col("n_common").cast("double") / col("n_lsh")))
            .as("precision"))
    }),

    // FULL-CORPUS near-dup clustering, the at-scale composition the
    // bounded dedup_cluster_canonical documents: pair graph from the
    // MinHash-LSH verified candidates (no all-pairs anywhere), then
    // the same connected-components + min-doc_id canonical step over
    // every document. HASH-ORACLED end-to-end: md5-basis candidates
    // (minhashCtesSql) + the recursive-CTE component walk; the planted
    // fixture additionally pins that exact+near dups cluster together.
    "dedup_cluster_lsh" -> ((s, d) => {
      val pairs = minhashVerifiedPairs(s, d)
        .select(col("a").as("src"), col("b").as("dst"))
      val docs = Tables.documents(s, d)
        .select(col("doc_id").as("src"), col("doc_id").as("dst"))
      GraphOps.connectedComponents(pairs.unionByName(docs),
          numParts = GraphOps.partsFor(s, d, "documents"))
        .select(col("v").as("doc_id"), col("lbl").as("canonical_id"))
        .orderBy(col("doc_id"))
    }),

    // SimHash: 60-bit signature from per-token md5-basis hashes
    // weighted by tf; near-dup candidates = equal 15-bit band (4
    // bands), verified by hamming distance <= 3. HASH-ORACLED: the
    // Md5Hash 60-bit base hash is engine-identical, so DuckDB rebuilds
    // the exact signature bit-by-bit (simhashCtesSql); the property
    // test additionally pins hamming-0 on identical docs.
    "dedup_simhash" -> ((s, d) => {
      val tf = Tables.documents(s, d)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
        .groupBy(col("doc_id"), col("term"))
        .agg(count(lit(1)).as("tf"))
        .withColumn("h", expr(graft.functions.Md5Hash.sparkHash60("term")))
      val bitCols = (0 until SimHashBits).map { i =>
        sum(when(shiftright(col("h"), i).bitwiseAND(lit(1L)) === 1L, col("tf"))
          .otherwise(-col("tf"))).as(s"b$i")
      }
      val sig = tf.groupBy(col("doc_id")).agg(bitCols.head, bitCols.tail: _*)
        .select(col("doc_id"),
          (0 until SimHashBits).map(i => when(col(s"b$i") > 0, shiftleft(lit(1L), i))
            .otherwise(lit(0L))).reduce(_ + _).as("simhash"))
      val bandCols = (0 until 4).map(j =>
        shiftright(col("simhash"), j * 15).bitwiseAND(lit(32767L)))
      val banded = sig.select(col("doc_id"), col("simhash"), posexplode(array(bandCols: _*)))
        .select(col("doc_id"), col("simhash"), col("pos").as("band"), col("col").as("bh"))
      banded.as("x").join(banded.as("y"),
          col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
          col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
          expr("bit_count(x.simhash ^ y.simhash)").as("hamming"))
        .distinct()
        .filter(col("hamming") <= 3)
        .orderBy(col("a"), col("b"))
    }),

    // near-dup CLUSTERING with canonical selection — the step a
    // training-data pipeline actually runs after pair generation:
    // connected components over the n-gram-Jaccard pair graph, each
    // doc labeled with the min doc_id of its cluster (its canonical
    // representative; singletons are their own canonical). Composes
    // the dedup family with GraphOps.connectedComponents — at scale
    // the pair graph comes from the banded LSH candidates instead of
    // the bounded exact-Jaccard set, with identical downstream shape.
    "dedup_cluster_canonical" -> ((s, d) =>
      clusterCanonical(s, d).orderBy(col("doc_id"))),

    // cluster-size histogram over the same labels — the release
    // metric a dedup pass publishes ("how much of the corpus sits in
    // near-dup clusters of size k"): cluster sizes, then counts per
    // size. Rides the memoized labels; two tiny hash aggregates, no
    // new propagation.
    "dedup_cluster_stats" -> ((s, d) => {
      val sizes = clusterCanonical(s, d)
        .groupBy(col("canonical_id")).agg(count(lit(1)).as("cluster_size"))
      sizes.groupBy(col("cluster_size"))
        .agg(count(lit(1)).as("n_clusters"),
          (col("cluster_size") * count(lit(1))).as("n_docs"))
        .orderBy(col("cluster_size"))
    }),

    // CAPSTONE COMPOSITE — the cleaned-corpus materialization a
    // training pipeline actually ships: keep a doc iff (a) it is its
    // near-dup cluster's canonical representative (min doc_id, see
    // dedup_cluster_canonical) and (b) it passes the repetition
    // filter (duplicate-trigram ratio ≤ 0.5 with ≥ 5 trigrams, see
    // text_repetition_stats). One declarative plan end-to-end: pair
    // generation → clustering → per-doc quality signal → filter.
    "pipeline_clean_corpus" -> ((s, d) => {
      // the stats side, bounded and barriered:
      //  - static doc_id bound: a semantic no-op (the cluster side only
      //    holds doc_id < 200 and the join is inner) that pushes to the
      //    parquet scan
      //  - groupBy(doc_id) aggregate (identity: doc_id is the table's
      //    key, max of one row): predicates on aggregate outputs cannot
      //    be pushed below an Aggregate, which blocks a measured
      //    Catalyst pathology — pushdown substitutes the rep_ratio
      //    filter below the trigram projection, re-inlining split(text)
      //    into every element_at lambda, an O(tokens²)-per-doc blow-up
      //    that ran 8 s single-task over the corpus at sf0.1. Shuffle
      //    cost of the barrier: one 16-byte row per bounded doc.
      val rep = TextOps.repetitionStats(s, d)
        .filter(col("doc_id") < 200L)
        .groupBy(col("doc_id"))
        .agg(max(col("n_trigrams")).as("n_trigrams"),
          max(col("rep_ratio")).as("rep_ratio"))
      clusterCanonical(s, d)
        .filter(col("doc_id") === col("canonical_id"))
        .join(rep, Seq("doc_id"))
        .filter(col("rep_ratio") <= 0.5 && col("n_trigrams") >= 5)
        .select(col("doc_id"), col("n_trigrams"), col("rep_ratio"))
        .orderBy(col("doc_id"))
    }),

    // train/test CONTAMINATION check — the decontamination step run
    // before training: test-split docs whose exact fingerprint also
    // appears in a train-split doc (split via the deterministic
    // assignment of text_split_assign, fingerprint = md5(text)).
    // Empty on this corpus (zero exact dupes at small SF — same as
    // dedup_exact); DedupTextSpec plants a leaked doc to pin the
    // semantics. At scale: one hash join on the fingerprint — shuffle
    // carries (md5, doc_id) pairs only.
    // incremental-ingest dedup: classify the DELTA batch (doc_id ≡ 4
    // mod 5, a deterministic ~20% increment) against the base corpus —
    // each delta doc is a base dup (its exact fingerprint exists in
    // the base), a within-delta dup (fingerprint first seen at a lower
    // delta doc_id), or new. THE weekly-refresh shape: at 100 TB the
    // base contributes only its DISTINCT fingerprint set (a semi-join
    // build, ∝ distinct base texts, not base rows), the within-delta
    // pass windows on the fingerprint (high-cardinality key), and
    // base-dup takes precedence over within-delta (declared order).
    "pipeline_incremental_dedup" -> ((s, d) => {
      val dd = Tables.documents(s, d)
        .select(col("doc_id"), md5(col("text")).as("h"),
          (pmod(col("doc_id"), lit(5L)) === 4L).as("is_delta"))
      val baseH = dd.filter(!col("is_delta")).select(col("h")).distinct()
        .withColumn("in_base", lit(true))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("h")).orderBy(col("doc_id"))
      dd.filter(col("is_delta"))
        .join(baseH, Seq("h"), "left")
        .withColumn("rn", row_number().over(w))
        .select(when(col("in_base"), "dup_of_base")
          .when(col("rn") > 1, "dup_within_delta")
          .otherwise("new").as("status"))
        .groupBy(col("status")).agg(count(lit(1)).as("n_docs"))
        .orderBy(col("status"))
    }),

    "pipeline_contamination_check" -> ((s, d) => {
      val sp = TextOps.splitAssign(s, d)
        .select(col("doc_id"), col("split"), md5(col("text")).as("h"))
      val train = sp.filter(col("split") === "train")
        .select(col("h"), col("doc_id").as("train_doc"))
      sp.filter(col("split") === "test")
        .select(col("h"), col("doc_id").as("test_doc"))
        .join(train, Seq("h"))
        .select(col("test_doc"), col("train_doc"), col("h"))
        .orderBy(col("test_doc"), col("train_doc"))
    }),

    // cross-source duplication matrix: for every source PAIR, how
    // many distinct content fingerprints they share — the crawl-
    // provenance census (two "independent" sources sharing half
    // their fingerprints are one mirror crawled twice, and dedup
    // budgets/source weights should know it; diag_dup_rate_by_source
    // counts dups WITHIN the corpus, this says WHERE FROM). Distinct
    // (source, md5) rows join on the fingerprint (shuffle ∝ distinct
    // fingerprints — the lang_vocab_overlap shape); per-pair overlap
    // coefficient divides exact integers by the SMALLER side
    // (containment, not Jaccard — a tiny mirror inside a big crawl
    // should read 1.0). Sides broadcast; ≤ sources² rows out.
    "dedup_cross_source_matrix" -> ((s, d) => {
      val fp = Tables.documents(s, d)
        .select(col("source"), md5(col("text")).as("h")).distinct()
      val sz = fp.groupBy(col("source")).agg(count(lit(1)).as("v"))
      val a = fp.select(col("source").as("sa"), col("h"))
      val b = fp.select(col("source").as("sb"), col("h"))
      a.join(b, Seq("h")).filter(col("sa") < col("sb"))
        .groupBy(col("sa"), col("sb")).agg(count(lit(1)).as("shared"))
        .join(broadcast(sz.select(col("source").as("sa"), col("v").as("va"))),
          Seq("sa"))
        .join(broadcast(sz.select(col("source").as("sb"), col("v").as("vb"))),
          Seq("sb"))
        .select(col("sa"), col("sb"), col("shared"),
          Stable.r4(col("shared").cast("double") /
            least(col("va"), col("vb"))).as("containment"))
        .orderBy(col("sa"), col("sb"))
    }),

    // n-gram decontamination — the REALISTIC benchmark-leak screen
    // (pipeline_contamination_check catches byte-identical docs; a
    // paraphrased or partially-quoted eval item shares 5-gram SPANS,
    // not the md5): per test doc, the fraction of its distinct
    // 5-grams present anywhere in the train split, flagged at the
    // DYADIC ≥¼ threshold via the exact integer compare 4·hits ≥
    // grams (no float in the verdict). Shape: gram explosion is
    // map-side, the distinct train-gram set and the test⋈train probe
    // shuffle ∝ distinct grams — never raw text; docs under 5 tokens
    // have no gram and are absent (declared).
    "pipeline_ngram_contamination" -> ((s, d) => {
      val grams = TextOps.splitAssign(s, d)
        .select(col("doc_id"), col("split"), explode(expr(
          """IF(size(split(text, ' ')) < 5, array(),
            |  transform(sequence(1, size(split(text, ' ')) - 4),
            |    i -> concat_ws(' ', slice(split(text, ' '), i, 5))))"""
            .stripMargin)).as("g"))
        .distinct()
      val train = grams.filter(col("split") === "train")
        .select(col("g")).distinct().withColumn("hit", lit(1L))
      grams.filter(col("split") === "test")
        .join(train, Seq("g"), "left")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_grams"),
          coalesce(sum(col("hit")), lit(0L)).as("n_hit"))
        .select(col("doc_id"), col("n_grams"), col("n_hit"),
          Stable.r4(col("n_hit").cast("double") / col("n_grams"))
            .as("overlap"),
          (col("n_hit") * 4 >= col("n_grams")).as("contaminated"))
        .orderBy(col("doc_id"))
    }),

    // fuzzy string dedup by edit distance, blocked by string length
    // (|len(a)-len(b)| <= k is a necessary condition for
    // levenshtein <= k, so the join carries a length-band predicate
    // that prunes most pairs before the O(len²) DP runs). The probe
    // side is broadcast and the streamed side spread across the cores.
    "dedup_edit_distance" -> ((s, d) => {
      val p = Tables.part(s, d).filter(col("p_partkey") < 500L)
        .select(col("p_partkey"), col("p_name"), length(col("p_name")).as("len"))
      val a = p.select(col("p_partkey").as("a"), col("p_name").as("na"), col("len").as("la"))
      val b = p.select(col("p_partkey").as("b"), col("p_name").as("nb"), col("len").as("lb"))
      VectorOps.spread(a)
        .join(broadcast(b), col("a") < col("b") && abs(col("la") - col("lb")) <= 3)
        .select(col("a"), col("b"), levenshtein(col("na"), col("nb")).as("dist"))
        .filter(col("dist") <= 3)
        .orderBy(col("a"), col("b"))
    }),

    // fuzzy-name matching by Jaro-Winkler similarity — the entity-
    // resolution scorer (typo-tolerant, prefix-weighted) that
    // complements levenshtein's edit-count view. Same length-band
    // blocking as dedup_edit_distance; the scorer is the native
    // codegen'd `functions.JaroWinklerExpr` (semantics pinned to
    // DuckDB's jaro_winkler_similarity — empty→0, window
    // max(l1,l2)/2−1, FLOOR transposition halving, boost only above
    // 0.7, prefix cap 4), so the ORACLE checks the custom expression
    // itself. Threshold on the ROUNDED score.
    "dedup_jaro_winkler" -> ((s, d) => {
      graft.functions.JaroWinkler.register(s)
      val p = Tables.part(s, d).filter(col("p_partkey") < 500L)
        .select(col("p_partkey"), col("p_name"), length(col("p_name")).as("len"))
      val a = p.select(col("p_partkey").as("a"), col("p_name").as("na"), col("len").as("la"))
      val b = p.select(col("p_partkey").as("b"), col("p_name").as("nb"), col("len").as("lb"))
      VectorOps.spread(a)
        .join(broadcast(b), col("a") < col("b") && abs(col("la") - col("lb")) <= 3)
        .select(col("a"), col("b"),
          round(expr("jaro_winkler(na, nb)"), 4).as("jw"))
        .filter(col("jw") >= 0.88)
        .orderBy(col("a"), col("b"))
    }),

    // near-dup by embedding cosine within the same label block
    "dedup_embedding_cosine" -> ((s, d) => {
      graft.functions.CosineSimilarity.register(s)
      val e = Tables.embeddings(s, d)
      val x = e.select(col("label"), col("vec_id").as("a"), col("embedding").as("ea"))
      val y = e.select(col("label"), col("vec_id").as("b"), col("embedding").as("eb"))
      x.join(y, Seq("label"))
        .filter(col("a") < col("b"))
        .select(col("a"), col("b"),
          round(expr("cosine_sim(ea, eb)"), 4).as("cos"))
        .filter(col("cos") >= 0.9)
        .orderBy(col("a"), col("b"))
    }),

    // SEMANTIC decontamination — the embedding-space twin of
    // pipeline_decontaminate, completing the decontamination story
    // (exact long-gram overlap catches verbatim leaks; cosine
    // similarity catches paraphrased ones): per train vector, the
    // nearest held-out eval vector (vec_id % DecontamEvalMod = 0, the
    // shared eval convention) by rounded cosine, ties toward the
    // smallest eval id, flagged at cosine ≥ [[SemanticDecontamTau]]
    // (the corpus's similarity ceiling is ~0.48 — same declared-knob
    // rationale as dedup_embedding_cluster; production runs 0.9+).
    // Scale shape: the eval side is ~1/mod of the corpus and
    // BROADCASTS — train × evals is the probe-bounded brute-force
    // baseline (the vec_cosine_topk shape), never train × train; the
    // LSH-bucketed scale path is the dedup_embedding_cluster banding,
    // documented there. Output = one audit row per train vector.
    "pipeline_decontaminate_semantic" -> ((s, d) => {
      graft.functions.CosineSimilarity.register(s)
      val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
      // guarded broadcast (VERDICT r9 #1): eval vectors counted against
      // the declared cap before broadcasting — see guardedPool
      val evals = guardedPool(
        e.filter(col("vec_id") % DecontamEvalMod === 0L)
          .select(col("vec_id").as("ev"), col("embedding").as("ee")),
        evalVecCap(s), "pipeline_decontaminate_semantic",
        "run the LSH-banded screen (dedup_embedding_cluster discipline) " +
          "or supply a bounded external eval set")
      e.filter(col("vec_id") % DecontamEvalMod =!= 0L)
        .join(broadcast(evals))
        .select(col("vec_id"),
          struct(round(expr("cosine_sim(embedding, ee)"), 4).as("cos"),
            (-col("ev")).as("nev")).as("sc"))
        .groupBy(col("vec_id")).agg(max(col("sc")).as("best"))
        .select(col("vec_id"), (-col("best.nev")).as("nearest_eval"),
          col("best.cos").as("max_cos"),
          (col("best.cos") >= SemanticDecontamTau).as("contaminated"))
        .orderBy(col("vec_id"))
    }),

    // semantic dedup CLUSTERS — the embedding-space twin of
    // dedup_cluster_lsh, completing the dedup matrix: MinHash has the
    // full pairs → clusters → canonical ladder, embeddings until now
    // stopped at pairs (dedup_embedding_cosine, label-blocked). This
    // is the semantic-dedup composition a training-data pipeline
    // runs: a 32-bit signed-random-projection signature per vector
    // (VectorOps.clusterPlanes — exact integer sign bits on the
    // shared decimal basis), banded 4 × 8 bits for OR-amplified
    // recall exactly like the MinHash banding scheme, same-band
    // candidates verified at cosine ≥ [[EmbClusterTau]], connected
    // components over the verified-pair graph, label = min vec_id
    // (the cluster's canonical representative). τ = 0.35 is the
    // declared demonstration threshold: the synthetic corpus's
    // similarity ceiling is ~0.48 (production semantic dedup runs
    // 0.9+ where the same 8-bit bands collide at ~0.43/band) — the
    // knob moves without changing any shape. The 100 TB shape:
    // candidate fan-out is band-bounded (8-bit bands collide at
    // ~1/256 for unrelated vectors — no all-pairs anywhere; widen
    // bits with the corpus to hold occupancy flat), the verify join
    // rejoins embeddings only for DISTINCT collided pairs, and the
    // CC runs on the pair graph, ≪ corpus. HASH-ORACLED end to end:
    // signatures are exact integer signs, the cosine rounds through
    // the shared 4dp gate, and the cluster labels replay as a
    // recursive-CTE min-label walk.
    "dedup_embedding_cluster" -> ((s, d) => {
      graft.functions.CosineSimilarity.register(s)
      var banded = embBanded(s, d)
      // candidate-mass guard (r11, from the 10× scale probe) + adaptive
      // re-banding (r12, VERDICT r11 #2): the banded self-join produces
      // Σ k·(k−1)/2 pairs over bucket occupancies k — flat for a corpus
      // whose near-dup clusters stay small, but a corpus with DENSE
      // duplicate clusters (the probe planted 10 clusters of 2k members
      // → ~16M candidates at 20k vectors) grows it quadratically in
      // cluster size. Price it with one cheap aggregate over the
      // signature table BEFORE paying the join; past the cap, WIDEN the
      // banding +4 bits per step (re-priced from the same memoized
      // signature table — each step splits accidental collisions
      // 16-fold while near-identical signatures keep colliding) and run
      // at the first legal width. Refuse loudly only when even the
      // full-signature banding exceeds the cap — then the corpus's
      // exact-duplicate mass itself breaks the contract and only
      // pre-collapsing exact duplicates can help.
      if (!GraphOps.planOnly(s)) {
        val cap = embCandidateCap(s)
        var bits = EmbClusterBandBits
        var mass = priceCandidateMass(banded)
        while (mass > cap && bits + EmbBandWidenStep <= EmbSigBits) {
          bits += EmbBandWidenStep
          banded = embBandedAt(s, d, bits)
          mass = priceCandidateMass(banded)
        }
        require(mass <= cap,
          s"dedup_embedding_cluster: banded LSH candidate mass is $mass " +
            s"pairs even at the widest banding ($bits-bit bands - " +
            "exact-signature blocking), exceeding the declared cap " +
            s"$cap - the corpus's duplicate clusters are dense enough " +
            "that no banding honors the band-bounded contract; " +
            "pre-collapse exact duplicates before the semantic pass, " +
            s"or raise $EmbCandidateMaxPairsKey deliberately")
        // observable width selection (r13, ADVICE r12 #1): record the
        // width the run actually used, and warn when it widened — a
        // widened run has lower band recall than the default layout
        // and must be distinguishable from one
        s.conf.set(EmbEffectiveBandBitsKey, bits.toString)
        if (bits != EmbClusterBandBits)
          log.warn(s"dedup_embedding_cluster widened banding " +
            s"$EmbClusterBandBits -> $bits bits (candidate mass $mass " +
            s"under cap $cap); read $EmbEffectiveBandBitsKey for the " +
            "selected width")
      }
      val cand = banded.as("x").join(banded.as("y"),
          col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
          col("x.vec_id") < col("y.vec_id"))
        .select(col("x.vec_id").as("a"), col("y.vec_id").as("b"))
        .distinct()
      val emb = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
      val pairs = cand
        .join(emb.select(col("vec_id").as("a"), col("embedding").as("ea")), Seq("a"))
        .join(emb.select(col("vec_id").as("b"), col("embedding").as("eb")), Seq("b"))
        .filter(round(expr("cosine_sim(ea, eb)"), 4) >= EmbClusterTau)
        .select(col("a").as("src"), col("b").as("dst"))
      val verts = emb.select(col("vec_id").as("src"), col("vec_id").as("dst"))
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("cluster"))
      GraphOps.connectedComponents(pairs.unionByName(verts),
          numParts = GraphOps.partsFor(s, d, "embeddings"))
        .select(col("v").as("vec_id"), col("lbl").as("cluster"))
        .withColumn("cluster_size", count(lit(1)).over(w))
        .withColumn("is_canonical", col("vec_id") === col("cluster"))
        .orderBy(col("vec_id"))
    }),

    // LSH bucket-occupancy audit (r11, from the 10× scale probe): the
    // candidate-mass pricing of the embedding-cluster guard as a
    // first-class QUERY — per band: bucket count, max occupancy,
    // singleton share, and Σ k·(k−1)/2 candidate pairs. This is the
    // number a 100 TB semantic dedup reads BEFORE paying the banded
    // self-join (dense near-dup clusters grow it quadratically; the
    // mitigation — widening EmbClusterBandBits — is priced by exactly
    // this table). Two cheap aggregates over the memoized signature
    // table; every output column an exact integer.
    "dedup_lsh_bucket_audit" -> ((s, d) => {
      embBanded(s, d)
        .groupBy(col("band"), col("bh")).agg(count(lit(1)).as("k"))
        .groupBy(col("band"))
        .agg(count(lit(1)).as("n_buckets"),
          max(col("k")).as("max_k"),
          sum(when(col("k") === 1, 1L).otherwise(0L)).as("singleton_buckets"),
          (sum(col("k") * (col("k") - 1)) / 2).cast("long")
            .as("candidate_pairs"))
        .orderBy(col("band"))
    }),

    // adaptive band PLAN (r12, from the adaptive re-banding): the
    // candidate-pair mass priced at EVERY width of the widening
    // schedule (8, 12, …, 32 bits — the exact rungs
    // dedup_embedding_cluster's guard climbs), plus whether each rung
    // sits under the default cap. This is the table a 100 TB operator
    // reads to pick a banding BEFORE paying any self-join — the
    // bucket-audit discipline extended across the whole schedule. One
    // pass: the signature table explodes to Σ n_bands(w) = 12 rows per
    // vector (a constant), one (bits, band, bh) occupancy aggregate,
    // one per-width fold — bounded at any corpus size.
    // NOTE (r13, ADVICE r12 #2): under_default_cap compares against the
    // compiled DEFAULT EmbCandidateMaxPairs on purpose — the DuckDB
    // oracle cannot see a Spark session conf, and the column is a
    // property of the schedule, not of one session. When a session
    // overrides EmbCandidateMaxPairsKey, the adaptive guard's actual
    // decision uses the override; recompute legality against
    // candidate_pairs yourself (the Round12 coherence test does
    // exactly that), or read EmbEffectiveBandBitsKey after a run.
    "dedup_band_plan" -> ((s, d) => {
      val widths = EmbClusterBandBits to EmbSigBits by EmbBandWidenStep
      val bandCols = widths.flatMap { bits =>
        (0 until EmbSigBits / bits).map { j =>
          struct(lit(bits).as("bits"), lit(j).as("band"),
            shiftright(col("sig"), j * bits)
              .bitwiseAND(lit((1L << bits) - 1)).as("bh"))
        }
      }
      embSignatures(s, d)
        .select(col("vec_id"), explode(array(bandCols: _*)).as("w"))
        .groupBy(col("w.bits").as("band_bits"), col("w.band"), col("w.bh"))
        .agg(count(lit(1)).as("k"))
        .groupBy(col("band_bits"))
        .agg(coalesce(sum(col("k") * (col("k") - 1)) / 2, lit(0.0))
          .cast("long").as("candidate_pairs"))
        .select(col("band_bits"),
          expr(s"CAST($EmbSigBits DIV band_bits AS INT)").as("n_bands"),
          col("candidate_pairs"),
          (col("candidate_pairs") <= EmbCandidateMaxPairs)
            .as("under_default_cap"))
        .orderBy(col("band_bits"))
    }),

    // URL-canonicalization dedup (r10, unasked) — the URL-level screen
    // a web-corpus pipeline runs BEFORE any content dedup (the same
    // page crawled as HTTPS://Host/path?utm_source=…#frag and
    // https://host/path is one document; CommonCrawl-style pipelines
    // dedup on the canonical URL first because it needs no content
    // read at all). The corpus carries no physical URLs, so a noisy
    // URL is synthesized per document (the scalar_url_extract
    // discipline — case noise on scheme/host, tracking params,
    // trailing slash, fragment, all deterministic in doc_id), then
    // canonicalized: scheme+host lowercased, query string and
    // fragment DROPPED (the aggressive declared variant), trailing
    // slash stripped. Output = per-doc audit: canonical URL, dup
    // group size, min-doc_id keeper flag. Scale shape: map-side
    // string work + ONE shuffle on the canonical key (the window) —
    // the cheapest dedup in the whole family at any corpus size.
    "dedup_url_canonical" -> ((s, d) => {
      val raw = Tables.documents(s, d)
        .select(col("doc_id"),
          concat(
            when(col("doc_id") % 2 === 0, lit("HTTPS://"))
              .otherwise(lit("https://")),
            when(col("doc_id") % 3 === 0, upper(col("source")))
              .otherwise(col("source")),
            lit(".Example.COM/docs/"), (col("doc_id") % 50).cast("string"),
            when(col("doc_id") % 5 === 0, lit("/")).otherwise(lit("")),
            when(col("doc_id") % 4 === 0,
                concat(lit("?utm_source=feed&ref="), col("lang")))
              .when(col("doc_id") % 4 === 1, concat(lit("?ref="), col("lang")))
              .otherwise(lit("")),
            when(col("doc_id") % 3 === 0,
                concat(lit("#sec"), (col("doc_id") % 3).cast("string")))
              .otherwise(lit(""))).as("url"))
      val canon = raw.select(col("doc_id"), col("url"),
        canonicalUrl(col("url")).as("canonical"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("canonical"))
      canon
        .withColumn("group_size", count(lit(1)).over(w))
        .withColumn("keep_doc", min(col("doc_id")).over(w))
        .select(col("doc_id"), col("url"), col("canonical"),
          col("group_size"),
          (col("doc_id") === col("keep_doc")).as("is_canonical"))
        .orderBy(col("doc_id"))
    }),

    // near-dup candidate pairs from shared WINNOWING fingerprints
    // (r4 continuation) — the posting-list composition the winnowing
    // scheme exists for: explode each document's fingerprint set,
    // group by fingerprint, and emit a < b pairs only from postings
    // with 2..WinnowPostingCap documents (a fingerprint shared by MANY
    // docs is boilerplate, not plagiarism — the cap is the semantic
    // twin of pipeline_inverted_index's posting cap AND the scale
    // bound: pair fan-out per posting is ≤ cap²/2 regardless of corpus
    // size, and the group-and-explode derivation shuffles each
    // (fp, doc) row exactly once). Pairs sharing ≥ WinnowMinShared
    // fingerprints also carry the fingerprint-estimated overlap
    // |A∩B| / |A∪B| — the resemblance estimate dedup decisions use.
    // Fully oracle-expressible, unlike MinHash banding: the
    // fingerprints are content-derived md5 k-gram hashes, not
    // seeded-permutation sketches.
    "dedup_winnow_pairs" -> ((s, d) => {
      // SINGLE-PASS shape: |fps| rides along with every exploded
      // (fp, doc) row, so postings emit pairs WITH both set sizes and
      // the overlap estimate needs no join back — the fingerprint
      // chain evaluates once, the plan is exactly two shuffles (fp
      // posting agg, pair agg). The earlier two-join form re-evaluated
      // the scan-side fingerprint derivation for the |fps| relation
      // and paid two more exchanges (measured 8.1 s vs ~1 s at sf0.1).
      winnowPairRel(s, d)
        .filter(col("n_shared") >= WinnowMinShared)
        .select(col("doc_a"), col("doc_b"), col("n_shared"),
          r4(col("n_shared").cast("double") /
            (col("nfa") + col("nfb") - col("n_shared"))).as("overlap_est"))
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // asymmetric CONTAINMENT over the same winnowing posting pass —
    // the quote/subset detector Jaccard misses: a short document fully
    // quoted inside a long one has low Jaccard (union is dominated by
    // the long doc) but containment |A∩B|/|A| ≈ 1 from the short
    // side. Training-data pipelines screen on containment exactly for
    // this (licence blurbs, quoted passages, nested crawls). Same
    // candidate semantics as dedup_winnow_pairs (posting-capped
    // fingerprint intersection ≥ WinnowMinShared — the cap bounds
    // pair fan-out at any corpus size); both directions emitted, the
    // max flagged, so the consumer reads one row per pair.
    "dedup_containment_pairs" -> ((s, d) =>
      winnowPairRel(s, d)
        .filter(col("n_shared") >= WinnowMinShared)
        .select(col("doc_a"), col("doc_b"), col("n_shared"),
          r4(col("n_shared").cast("double") / col("nfa")).as("contain_a"),
          r4(col("n_shared").cast("double") / col("nfb")).as("contain_b"),
          r4(greatest(col("n_shared").cast("double") / col("nfa"),
            col("n_shared").cast("double") / col("nfb"))).as("contain_max"))
        .orderBy(col("doc_a"), col("doc_b"))),

    // eval-set DECONTAMINATION (the screen every LLM training pipeline
    // runs before training): flag train documents sharing long-gram
    // winnowing fingerprints with the held-out eval set (doc_id %
    // DecontamEvalMod = 0 — the %-convention of the delta/upsert
    // family). The gram is DELIBERATELY longer than the near-dup
    // default (DecontamK = 16 vs WinnowK = 8): at k=8 this corpus's
    // shared vocabulary fires on every doc (measured 495/495 at
    // sf0.01), at k=16 only real shared spans fire (185 docs, 39 ≥
    // the threshold) — the same reason production decontamination
    // uses 13-grams, documented as the knob's rationale. Scale shape:
    // the eval POOL (distinct eval-doc fingerprints) is ~1/mod of the
    // corpus and BROADCASTS against the exploded train fingerprints —
    // no self-join, no all-pairs, the eval-ngrams-vs-crawl shape a
    // 100 TB decontamination actually runs; the doc_id filters push
    // to the scan through the fingerprint chain's aggregate barrier
    // (grouping-key predicates cross it), so the pool side only pays
    // the chain for eval docs. Output = the audit report: every train
    // doc with ≥1 hit, its hit count/fraction, and the contaminated
    // flag at DecontamMinShared.
    "pipeline_decontaminate" -> ((s, d) => {
      val train = Tables.documents(s, d)
        .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
        .filter(col("doc_id") % DecontamEvalMod =!= 0L)
      // guarded broadcast (VERDICT r9 #1): the fp pool is counted
      // against the declared cap BEFORE it broadcasts — see guardedPool
      val pool = guardedPool(evalFpPool(s, d), poolCap(s),
        "pipeline_decontaminate",
        "screen via the posting-capped fingerprint join " +
          "(dedup_winnow_pairs discipline) or supply a bounded " +
          "external eval set")
      decontamReport(train, pool).orderBy(col("doc_id"))
    }),

    // sub-document block dedup — the repeated-passage removal pass of
    // a training-data pipeline (boilerplate headers, licence blurbs,
    // templated passages recur across documents even when whole-doc
    // dedup finds nothing): cut each document into consecutive
    // non-overlapping BlockW-token blocks, hash each block, and score
    // every document by the share of its distinct blocks that also
    // appear in at least one OTHER document. Scale shape: blocks are
    // hashed map-side (one md5 per block, no token arrays shuffle);
    // the posting aggregate carries (block_hash, doc_count) — state ∝
    // distinct blocks; the scoring join is on the block-hash key. A
    // boilerplate block shared by millions of docs is ONE posting row
    // (count, not list), so hot blocks cost an aggregate, never an
    // OOM — the same cap-before-collect discipline as the inverted
    // index. Docs shorter than BlockW tokens have no full block and
    // are absent (declared).
    "dedup_shared_blocks" -> ((s, d) => {
      val db = Tables.documents(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("t"))
        .select(col("doc_id"), explode(expr(
          s"""IF(size(t) < $BlockW, array(),
             |  transform(sequence(1, size(t) DIV $BlockW),
             |    i -> md5(array_join(
             |      slice(t, (i - 1) * $BlockW + 1, $BlockW), ' '))))"""
            .stripMargin)).as("bh"))
        .distinct()
      val freq = db.groupBy(col("bh"))
        .agg(countDistinct(col("doc_id")).as("ndocs"))
      db.join(freq, Seq("bh"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_blocks"),
          sum(when(col("ndocs") >= 2, 1L).otherwise(0L)).as("n_shared"))
        .select(col("doc_id"), col("n_blocks"), col("n_shared"),
          r4(col("n_shared").cast("double") / col("n_blocks"))
            .as("shared_share"))
        .orderBy(col("doc_id"))
    }))

  /** posting cap / shared-fingerprint threshold for dedup_winnow_pairs
    * — shared with the oracle SQL so the two cannot drift. At sf0.01:
    * cap 8 keeps 2,095 of 4,500+ multi-doc postings and minShared 3
    * yields 164 pairs. */
  val WinnowPostingCap = 8
  val WinnowMinShared = 3

  /** decontamination gram length / winnow window — LONGER than the
    * near-dup default (see pipeline_decontaminate's rationale) */
  val DecontamK = 16
  val DecontamW = 4
  /** eval-set convention: doc_id % mod = 0 is held out */
  val DecontamEvalMod = 100L
  /** shared long-gram fingerprints at which a train doc is flagged */
  val DecontamMinShared = 3L

  /** semantic-decontamination cosine threshold — declared demo knob
    * (this corpus's similarity ceiling is ~0.48; production 0.9+) */
  val SemanticDecontamTau = 0.35

  /** broadcast-pool contract (VERDICT r9 #1, the
    * [[GraphOps.CcIncrementalMaxDeltaFrac]] pattern): both
    * decontamination screens BROADCAST their eval pool, and this
    * corpus derives that pool as a %-mod slice of the corpus itself —
    * so without a numeric bound the broadcast grows LINEARLY with the
    * corpus and a 100× scale-up degrades silently (driver/executor
    * OOM) instead of refusing. In production the eval set is a FIXED
    * external corpus, so the contract is absolute, not fractional:
    * the pool must fit a single executor's broadcast budget at ANY
    * corpus size. Caps are rows of the broadcast relation —
    * 2M fingerprint rows ≈ 70 MB of md5 strings; 200k embedding rows
    * × 64 floats ≈ 60 MB — both comfortably inside a default 1 GB
    * broadcast budget with headroom for the hash map. Past the cap
    * the screen refuses loudly and names the banded alternative
    * (the dedup_embedding_cluster / dedup_winnow_pairs posting
    * discipline runs the same screen with bounded fan-out and no
    * broadcast). Session-overridable like the graph broadcast caps so
    * the refusal is testable and cluster operators can retune. */
  val DecontamPoolMaxRowsKey = "graft.decontam.poolMaxRows"
  val DecontamEvalVecMaxRowsKey = "graft.decontam.evalVecMaxRows"
  val DecontamPoolMaxRows = 2000000L
  val DecontamEvalVecMaxRows = 200000L

  private def poolCap(s: SparkSession): Long =
    s.conf.get(DecontamPoolMaxRowsKey, DecontamPoolMaxRows.toString).toLong
  private def evalVecCap(s: SparkSession): Long =
    s.conf.get(DecontamEvalVecMaxRowsKey, DecontamEvalVecMaxRows.toString).toLong

  /** measure `pool` and refuse loudly past `cap` — one bounded count
    * action (the measured-count discipline of GraphOps.stateCap), run
    * before the broadcast so the failure is the CONTRACT message, not
    * an OOM mid-join. Plan-only audit sessions skip the count (they
    * never execute). Returns the pool unchanged for inline use. */
  private[graft] def guardedPool(pool: DataFrame, cap: Long, what: String,
      alternative: String): DataFrame = {
    if (!GraphOps.planOnly(pool.sparkSession)) {
      val n = pool.count()
      require(n <= cap,
        s"$what: broadcast eval pool has $n rows, exceeding the declared " +
          s"cap $cap - the pool << corpus broadcast contract does not " +
          s"hold; $alternative")
    }
    pool
  }

  /** the eval set's long-gram fingerprint POOL (distinct fp) — shared
    * by the batch screen and the streaming sink
    * ([[graft.streaming.StreamPort.decontaminateSink]]). ~1/mod of the
    * corpus pays the chain (the doc_id filter pushes through the
    * aggregate barrier); broadcast-sized by the eval-set contract.
    * Memoized + LATCHED per (session, dir) as of r10 (the embSigMemo
    * discipline): the pool-cap guard COUNTS it and the screen then
    * BROADCASTS it — without the latch each would re-run the eval-side
    * winnow chain (measured: the guard added ~0.6 s at sf0.1 on the
    * unlatched pool; latched, the count reads the warm blocks). */
  private val evalPoolMemo = SessionMemo[DataFrame]("evalPool")

  def evalFpPool(s: SparkSession, d: String): DataFrame =
    evalPoolMemo(s, d) {
      val pool = TextOps.winnowFpArrays(s, d, DecontamK, DecontamW)
        .filter(col("doc_id") % DecontamEvalMod === 0L)
        .select(explode(col("fps")).as("fp")).distinct()
      if (GraphOps.planOnly(s)) pool.cache() else pool.localCheckpoint(true)
    }

  /** per-batch train-side screen against a (broadcast) fingerprint
    * pool — the SHARED report shape of pipeline_decontaminate and the
    * streaming sink: (doc_id, n_fp, n_hit, hit_frac, contaminated) for
    * every doc with ≥ 1 hit */
  def decontamReport(docs: DataFrame, pool: DataFrame): DataFrame = {
    val ex = TextOps.winnowFpsOf(docs, DecontamK, DecontamW)
      .select(col("doc_id"),
        // BIGINT like the oracle's len() — n_fp is an OUTPUT column
        size(col("fps")).cast("long").as("n_fp"),
        explode(col("fps")).as("fp"))
    ex.join(broadcast(pool), Seq("fp"))
      .groupBy(col("doc_id"), col("n_fp"))
      .agg(count(lit(1)).as("n_hit"))
      .select(col("doc_id"), col("n_fp"), col("n_hit"),
        r4(col("n_hit").cast("double") / col("n_fp")).as("hit_frac"),
        (col("n_hit") >= DecontamMinShared).as("contaminated"))
  }

  /** shared pre-threshold winnowing pair relation (doc_a, doc_b,
    * n_shared, nfa, nfb) — the SINGLE-PASS posting shape documented at
    * dedup_winnow_pairs, factored so dedup_containment_pairs prices
    * its asymmetric ratios off the identical candidate semantics. Not
    * memoized: the chain is ~1 s at sf0.1 and per-query honesty keeps
    * the bench attribution simple. */
  private def winnowPairRel(s: SparkSession, d: String): DataFrame = {
    val wf = TextOps.winnowFpArrays(s, d)
      .select(col("doc_id"), size(col("fps")).as("n_fp"),
        explode(col("fps")).as("fp"))
    val post = wf.groupBy(col("fp"))
      .agg(sort_array(collect_list(struct(col("doc_id"), col("n_fp"))))
        .as("ds"))
      .filter(size(col("ds")).between(2, WinnowPostingCap))
    post.select(explode(expr(
      """flatten(transform(sequence(1, size(ds) - 1),
        |  i -> transform(sequence(i + 1, size(ds)),
        |    j -> named_struct('a', element_at(ds, i),
        |                      'b', element_at(ds, j)))))""".stripMargin))
      .as("p"))
      .select(col("p.a.doc_id").as("doc_a"), col("p.b.doc_id").as("doc_b"),
        col("p.a.n_fp").as("nfa"), col("p.b.n_fp").as("nfb"))
      .groupBy(col("doc_a"), col("doc_b"))
      // nfa/nfb are functionally dependent on the grouping keys —
      // max() is just the aggregate-safe way to carry them through
      .agg(count(lit(1)).as("n_shared"),
        max(col("nfa")).as("nfa"), max(col("nfb")).as("nfb"))
  }

  /** dedup_shared_blocks block width (tokens) — shared with the
    * oracle SQL so the two cannot drift */
  val BlockW = 8

  /** canonical form of a URL column (scheme+host lowercased, query
    * string and fragment dropped, trailing slash stripped) — the ONE
    * expression `dedup_url_canonical` and the streaming frontier dedup
    * ([[graft.streaming.StreamPort.urlFrontierDedup]]) share, so batch
    * and stream can never canonicalize differently. Pure codegen'd
    * string work — map-side at any scale. */
  def canonicalUrl(u: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    concat(
      lower(regexp_extract(u, "^([^/]+//[^/?#]+)", 1)),
      regexp_replace(regexp_extract(u, "^[^/]+//[^/?#]+([^?#]*)", 1),
        "/$", ""))

  val oracle: Map[String, String] = Map(
    "dedup_url_canonical" ->
      """WITH raw AS (
        |  SELECT doc_id,
        |    (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://' ELSE 'https://' END)
        |    || (CASE WHEN doc_id % 3 = 0 THEN upper(source) ELSE source END)
        |    || '.Example.COM/docs/' || CAST(doc_id % 50 AS VARCHAR)
        |    || (CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END)
        |    || (CASE WHEN doc_id % 4 = 0 THEN '?utm_source=feed&ref=' || lang
        |             WHEN doc_id % 4 = 1 THEN '?ref=' || lang
        |             ELSE '' END)
        |    || (CASE WHEN doc_id % 3 = 0
        |             THEN '#sec' || CAST(doc_id % 3 AS VARCHAR)
        |             ELSE '' END) AS url
        |  FROM documents),
        |canon AS (
        |  SELECT doc_id, url,
        |    lower(regexp_extract(url, '^([^/]+//[^/?#]+)', 1))
        |    || regexp_replace(
        |         regexp_extract(url, '^[^/]+//[^/?#]+([^?#]*)', 1), '/$', '')
        |      AS canonical
        |  FROM raw)
        |SELECT doc_id, url, canonical,
        |  count(*) OVER (PARTITION BY canonical) AS group_size,
        |  doc_id = min(doc_id) OVER (PARTITION BY canonical) AS is_canonical
        |FROM canon ORDER BY doc_id""".stripMargin,

    "dedup_shared_blocks" ->
      s"""WITH toks AS (
         |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         |b AS (
         |  SELECT DISTINCT doc_id,
         |    unnest(CASE WHEN len(t) < $BlockW THEN []::VARCHAR[]
         |      ELSE list_transform(range(1, len(t) // $BlockW + 1),
         |        i -> md5(array_to_string(list_slice(t,
         |          (i - 1) * $BlockW + 1, (i - 1) * $BlockW + $BlockW),
         |          ' '))) END) AS bh
         |  FROM toks),
         |freq AS (
         |  SELECT bh, count(DISTINCT doc_id) AS ndocs FROM b GROUP BY bh),
         |agg AS (
         |  SELECT doc_id, count(*) AS n_blocks,
         |    CAST(SUM(CASE WHEN ndocs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_shared
         |  FROM b JOIN freq USING (bh) GROUP BY doc_id)
         |SELECT doc_id, n_blocks, n_shared,
         |  round(CAST(n_shared AS DOUBLE) / n_blocks, 4) AS shared_share
         |FROM agg ORDER BY doc_id""".stripMargin,
    "dedup_exact" ->
      """SELECT md5(text) AS h, count(*) AS n, min(doc_id) AS first_doc
        |FROM documents GROUP BY text HAVING count(*) > 1
        |ORDER BY h""".stripMargin,

    "dedup_jaccard_exact" ->
      """WITH tok AS (
        |  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS term
        |  FROM documents WHERE doc_id < 200),
        |sz AS (SELECT doc_id, count(*) AS sz FROM tok GROUP BY doc_id),
        |inter AS (
        |  SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS i
        |  FROM tok x JOIN tok y ON x.term = y.term AND x.doc_id < y.doc_id
        |  GROUP BY 1, 2)
        |SELECT a, b, round(CAST(i AS DOUBLE) / (sa.sz + sb.sz - i), 4) AS jaccard
        |FROM inter JOIN sz sa ON sa.doc_id = a JOIN sz sb ON sb.doc_id = b
        |WHERE round(CAST(i AS DOUBLE) / (sa.sz + sb.sz - i), 4) >= 0.6
        |ORDER BY a, b""".stripMargin,

    "dedup_threshold_curve" ->
      """WITH tok AS (
        |  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS term
        |  FROM documents WHERE doc_id < 200),
        |sz AS (SELECT doc_id, count(*) AS sz FROM tok GROUP BY doc_id),
        |inter AS (
        |  SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS i
        |  FROM tok x JOIN tok y ON x.term = y.term AND x.doc_id < y.doc_id
        |  GROUP BY 1, 2),
        |j AS (
        |  SELECT round(CAST(i AS DOUBLE) / (sa.sz + sb.sz - i), 4) AS jaccard
        |  FROM inter JOIN sz sa ON sa.doc_id = a JOIN sz sb ON sb.doc_id = b
        |  WHERE round(CAST(i AS DOUBLE) / (sa.sz + sb.sz - i), 4) >= 0.0),
        |th AS (SELECT unnest([0.5, 0.55, 0.6, 0.65, 0.7, 0.75, 0.8,
        |         0.85, 0.9]) AS threshold)
        |SELECT threshold,
        |  count(*) FILTER (WHERE jaccard >= threshold) AS n_pairs
        |FROM j, th GROUP BY threshold ORDER BY threshold""".stripMargin,

    "dedup_containment" ->
      """WITH tok AS (
        |  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS term
        |  FROM documents WHERE doc_id < 200),
        |sz AS (SELECT doc_id, count(*) AS sz FROM tok GROUP BY doc_id),
        |inter AS (
        |  SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS i
        |  FROM tok x JOIN tok y ON x.term = y.term AND x.doc_id <> y.doc_id
        |  GROUP BY 1, 2)
        |SELECT a, b, round(CAST(i AS DOUBLE) / sa.sz, 4) AS containment
        |FROM inter JOIN sz sa ON sa.doc_id = a
        |WHERE round(CAST(i AS DOUBLE) / sa.sz, 4) >= 0.8
        |ORDER BY a, b""".stripMargin,

    "dedup_ngram_jaccard" ->
      s"""WITH $bigramCtesSql
         |SELECT a, b, round(CAST(i AS DOUBLE) / (sa.sz + sb.sz - i), 4) AS jaccard
         |FROM inter JOIN sz sa ON sa.doc_id = a JOIN sz sb ON sb.doc_id = b
         |WHERE round(CAST(i AS DOUBLE) / (sa.sz + sb.sz - i), 4) >= 0.3
         |ORDER BY a, b""".stripMargin,

    "dedup_band_sweep" ->
      s"""WITH $minhashSigSql,
         |${BandSweepConfigs.map { case (b, r) =>
          s"""bandw$b AS (
             |  SELECT doc_id, i // $r AS band, list(mh ORDER BY i) AS bsig
             |  FROM msig GROUP BY doc_id, i // $r),
             |candw$b AS (
             |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
             |  FROM bandw$b x JOIN bandw$b y
             |    ON x.band = y.band AND x.bsig = y.bsig
             |   AND x.doc_id < y.doc_id),
             |intw$b AS (
             |  SELECT c.a, c.b, count(*) AS n
             |  FROM candw$b c
             |  JOIN mbi x ON x.doc_id = c.a
             |  JOIN mbi y ON y.doc_id = c.b AND y.term = x.term
             |  GROUP BY c.a, c.b),
             |verw$b AS (
             |  SELECT count(*) AS nv FROM intw$b t
             |  JOIN msz sa ON sa.doc_id = t.a
             |  JOIN msz sb ON sb.doc_id = t.b
             |  WHERE round(CAST(t.n AS DOUBLE) / (sa.sz + sb.sz - t.n), 4)
             |    >= 0.5),
             |nc$b AS (SELECT count(*) AS nc FROM candw$b)""".stripMargin
        }.mkString(",\n")}
         |${BandSweepConfigs.map { case (b, r) =>
          s"""SELECT $b AS n_bands, $r AS rows_per_band,
             |  nc.nc AS n_candidates, v.nv AS n_verified,
             |  CASE WHEN nc.nc = 0 THEN 1.0
             |    ELSE round(CAST(v.nv AS DOUBLE) / nc.nc, 4) END AS precision
             |FROM nc$b nc CROSS JOIN verw$b v""".stripMargin
        }.mkString("\nUNION ALL\n")}
         |ORDER BY n_bands""".stripMargin,

    "dedup_lsh_quality_audit" ->
      s"""WITH $minhashCtesSql,
         |ptok AS (
         |  SELECT DISTINCT doc_id,
         |    unnest(list_transform(list_zip(ts[1:len(ts)-1], ts[2:len(ts)]),
         |      p -> p[1] || '_' || p[2])) AS term
         |  FROM mtoks WHERE doc_id < 200),
         |psz AS (SELECT doc_id, count(*) AS sz FROM ptok GROUP BY doc_id),
         |pint AS (
         |  SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS n
         |  FROM ptok x JOIN ptok y ON x.term = y.term AND x.doc_id < y.doc_id
         |  GROUP BY 1, 2),
         |truth AS (
         |  SELECT t.a, t.b FROM pint t
         |  JOIN psz sa ON sa.doc_id = t.a JOIN psz sb ON sb.doc_id = t.b
         |  WHERE round(CAST(t.n AS DOUBLE) / (sa.sz + sb.sz - t.n), 4) >= 0.5),
         |l AS (SELECT a, b FROM mpairs WHERE a < 200 AND b < 200),
         |f AS (
         |  SELECT count(*) FILTER (t.a IS NOT NULL) AS n_truth,
         |    count(*) FILTER (l.a IS NOT NULL) AS n_lsh,
         |    count(*) FILTER (t.a IS NOT NULL AND l.a IS NOT NULL) AS n_common
         |  FROM truth t FULL JOIN l ON t.a = l.a AND t.b = l.b)
         |SELECT n_truth, n_lsh, n_common,
         |  CASE WHEN n_truth = 0 THEN 1.0
         |    ELSE round(CAST(n_common AS DOUBLE) / n_truth, 4) END AS recall,
         |  CASE WHEN n_lsh = 0 THEN 1.0
         |    ELSE round(CAST(n_common AS DOUBLE) / n_lsh, 4) END AS precision
         |FROM f""".stripMargin,

    "dedup_near_minhash" ->
      s"""WITH $minhashCtesSql
         |SELECT a, b, jaccard FROM mpairs ORDER BY a, b""".stripMargin,

    "dedup_simhash" ->
      s"""WITH $simhashCtesSql
         |SELECT DISTINCT x.doc_id AS a, y.doc_id AS b,
         |  CAST(bit_count(xor(x.simhash, y.simhash)) AS INTEGER) AS hamming
         |FROM sband x JOIN sband y
         |  ON x.band = y.band AND x.bh = y.bh AND x.doc_id < y.doc_id
         |WHERE bit_count(xor(x.simhash, y.simhash)) <= 3
         |ORDER BY a, b""".stripMargin,

    "dedup_cluster_lsh" ->
      s"""WITH RECURSIVE $minhashCtesSql,
         |mdocs AS (SELECT doc_id FROM documents),
         |msym AS (SELECT a AS s, b AS t FROM mpairs
         |         UNION SELECT b, a FROM mpairs
         |         UNION SELECT doc_id, doc_id FROM mdocs),
         |mwalk(v, l) AS (
         |  SELECT doc_id, doc_id FROM mdocs
         |  UNION
         |  SELECT msym.t, mwalk.l FROM msym JOIN mwalk ON msym.s = mwalk.v)
         |SELECT v AS doc_id, min(l) AS canonical_id
         |FROM mwalk GROUP BY v ORDER BY doc_id""".stripMargin,

    "dedup_cluster_canonical" ->
      s"""WITH RECURSIVE $clusterCtesSql
         |SELECT doc_id, canonical_id FROM canon ORDER BY doc_id""".stripMargin,

    "dedup_cluster_stats" ->
      s"""WITH RECURSIVE $clusterCtesSql,
         |sizes AS (SELECT canonical_id, count(*) AS cluster_size
         |          FROM canon GROUP BY canonical_id)
         |SELECT cluster_size, count(*) AS n_clusters,
         |  cluster_size * count(*) AS n_docs
         |FROM sizes GROUP BY cluster_size ORDER BY cluster_size""".stripMargin,

    "pipeline_clean_corpus" ->
      s"""WITH RECURSIVE $clusterCtesSql,
         |${TextOps.repCtesSql}
         |SELECT c.doc_id, r.n_trigrams, r.rep_ratio
         |FROM canon c JOIN rep r ON c.doc_id = r.doc_id
         |WHERE c.doc_id = c.canonical_id AND r.rep_ratio <= 0.5
         |  AND r.n_trigrams >= 5
         |ORDER BY c.doc_id""".stripMargin,

    "pipeline_incremental_dedup" ->
      """WITH dd AS (
        |  SELECT doc_id, md5(text) AS h, doc_id % 5 = 4 AS is_delta
        |  FROM documents),
        |bh AS (SELECT DISTINCT h FROM dd WHERE NOT is_delta),
        |de AS (
        |  SELECT d.doc_id, d.h, bh.h IS NOT NULL AS in_base,
        |    row_number() OVER (PARTITION BY d.h ORDER BY d.doc_id) AS rn
        |  FROM dd d LEFT JOIN bh ON d.h = bh.h
        |  WHERE d.is_delta)
        |SELECT CASE WHEN in_base THEN 'dup_of_base'
        |            WHEN rn > 1 THEN 'dup_within_delta'
        |            ELSE 'new' END AS status,
        |  count(*) AS n_docs
        |FROM de GROUP BY 1 ORDER BY 1""".stripMargin,

    "pipeline_contamination_check" ->
      s"""WITH sp AS (
         |  SELECT doc_id, md5(text) AS h, ${TextOps.splitCaseSql} AS split
         |  FROM documents)
         |SELECT t.doc_id AS test_doc, tr.doc_id AS train_doc, t.h
         |FROM sp t JOIN sp tr ON t.h = tr.h
         |WHERE t.split = 'test' AND tr.split = 'train'
         |ORDER BY test_doc, train_doc""".stripMargin,

    "dedup_cross_source_matrix" ->
      """WITH fp AS (
        |  SELECT DISTINCT source, md5(text) AS h FROM documents),
        |sz AS (SELECT source, count(*) AS v FROM fp GROUP BY 1),
        |pairs AS (
        |  SELECT x.source AS sa, y.source AS sb, count(*) AS shared
        |  FROM fp x JOIN fp y ON x.h = y.h AND x.source < y.source
        |  GROUP BY 1, 2)
        |SELECT p.sa, p.sb, p.shared,
        |  round(CAST(p.shared AS DOUBLE) / least(za.v, zb.v), 4)
        |    AS containment
        |FROM pairs p
        |JOIN sz za ON za.source = p.sa
        |JOIN sz zb ON zb.source = p.sb
        |ORDER BY p.sa, p.sb""".stripMargin,

    "pipeline_ngram_contamination" ->
      s"""WITH sp AS (
         |  SELECT doc_id, string_split(text, ' ') AS tk,
         |    ${TextOps.splitCaseSql} AS split
         |  FROM documents),
         |grams AS (
         |  SELECT DISTINCT doc_id, split, g FROM (
         |    SELECT doc_id, split, unnest(CASE WHEN len(tk) < 5 THEN []
         |      ELSE list_transform(range(1, len(tk) - 3),
         |        i -> array_to_string(list_slice(tk, i, i + 4), ' '))
         |      END) AS g
         |    FROM sp) q),
         |train AS (SELECT DISTINCT g FROM grams WHERE split = 'train'),
         |hits AS (
         |  SELECT t.doc_id, count(*) AS n_grams,
         |    CAST(coalesce(SUM(CASE WHEN tr.g IS NOT NULL THEN 1 END), 0)
         |      AS BIGINT) AS n_hit
         |  FROM grams t LEFT JOIN train tr ON t.g = tr.g
         |  WHERE t.split = 'test' GROUP BY 1)
         |SELECT doc_id, n_grams, n_hit,
         |  round(CAST(n_hit AS DOUBLE) / n_grams, 4) AS overlap,
         |  n_hit * 4 >= n_grams AS contaminated
         |FROM hits ORDER BY doc_id""".stripMargin,

    "dedup_edit_distance" ->
      """WITH p AS (SELECT p_partkey, p_name, length(p_name) AS len
        |  FROM part WHERE p_partkey < 500)
        |SELECT a.p_partkey AS a, b.p_partkey AS b,
        |  CAST(levenshtein(a.p_name, b.p_name) AS INT) AS dist
        |FROM p a JOIN p b
        |  ON a.p_partkey < b.p_partkey AND abs(a.len - b.len) <= 3
        |WHERE levenshtein(a.p_name, b.p_name) <= 3
        |ORDER BY a, b""".stripMargin,

    "dedup_jaro_winkler" ->
      """WITH p AS (SELECT p_partkey, p_name, length(p_name) AS len
        |  FROM part WHERE p_partkey < 500)
        |SELECT a, b, jw FROM (
        |  SELECT a.p_partkey AS a, b.p_partkey AS b,
        |    round(jaro_winkler_similarity(a.p_name, b.p_name), 4) AS jw
        |  FROM p a JOIN p b
        |    ON a.p_partkey < b.p_partkey AND abs(a.len - b.len) <= 3) t
        |WHERE jw >= 0.88 ORDER BY a, b""".stripMargin,

    "dedup_embedding_cosine" ->
      """SELECT x.vec_id AS a, y.vec_id AS b,
        |  round(list_cosine_similarity(
        |    CAST(x.embedding AS DOUBLE[]), CAST(y.embedding AS DOUBLE[])), 4) AS cos
        |FROM embeddings x JOIN embeddings y
        |  ON x.label = y.label AND x.vec_id < y.vec_id
        |WHERE round(list_cosine_similarity(
        |    CAST(x.embedding AS DOUBLE[]), CAST(y.embedding AS DOUBLE[])), 4) >= 0.9
        |ORDER BY a, b""".stripMargin,

    // the 32-bit signature replays via the shared sign-plane CTE
    // block (exact integer sign bits), band-collided candidates via
    // the same (band, value) join, verified pairs via the same
    // rounded cosine gate, and the cluster labels via the recursive
    // min-label walk (the CC oracle discipline)
    "dedup_embedding_cluster" ->
      s"""WITH RECURSIVE ${VectorOps.signatureCtesSql(VectorOps.clusterPlanes)},
         |bands AS (
         |  SELECT vec_id, bj.band,
         |    (bucket >> (bj.band * $EmbClusterBandBits))
         |      & ${(1L << EmbClusterBandBits) - 1} AS bh
         |  FROM bk CROSS JOIN
         |    (SELECT range AS band FROM range($EmbClusterBands)) bj),
         |cand AS (
         |  SELECT DISTINCT x.vec_id AS a, y.vec_id AS b
         |  FROM bands x JOIN bands y
         |    ON x.band = y.band AND x.bh = y.bh AND x.vec_id < y.vec_id),
         |pr AS (
         |  SELECT c.a, c.b FROM cand c
         |  JOIN embeddings ea ON ea.vec_id = c.a
         |  JOIN embeddings eb ON eb.vec_id = c.b
         |  WHERE round(list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
         |    CAST(eb.embedding AS DOUBLE[])), 4) >= $EmbClusterTau),
         |sym AS (SELECT a, b FROM pr UNION SELECT b, a FROM pr),
         |verts AS (SELECT DISTINCT vec_id AS v FROM embeddings),
         |walk(v, l) AS (
         |  SELECT v, v FROM verts
         |  UNION
         |  SELECT sym.b, walk.l FROM sym JOIN walk ON sym.a = walk.v),
         |cl AS (SELECT v AS vec_id, min(l) AS cluster FROM walk GROUP BY v)
         |SELECT vec_id, cluster,
         |  count(*) OVER (PARTITION BY cluster) AS cluster_size,
         |  vec_id = cluster AS is_canonical
         |FROM cl ORDER BY vec_id""".stripMargin,

    // same plane table + banding arithmetic as the cluster oracle, so
    // the audited buckets ARE the cluster query's buckets
    "dedup_lsh_bucket_audit" ->
      s"""WITH ${VectorOps.signatureCtesSql(VectorOps.clusterPlanes)},
         |bands AS (
         |  SELECT vec_id, CAST(bj.band AS INT) AS band,
         |    (bucket >> (bj.band * $EmbClusterBandBits))
         |      & ${(1L << EmbClusterBandBits) - 1} AS bh
         |  FROM bk CROSS JOIN
         |    (SELECT range AS band FROM range($EmbClusterBands)) bj),
         |occ AS (SELECT band, bh, count(*) AS k FROM bands GROUP BY 1, 2)
         |SELECT band, count(*) AS n_buckets, max(k) AS max_k,
         |  CAST(sum(CASE WHEN k = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS singleton_buckets,
         |  CAST(sum(k * (k - 1)) / 2 AS BIGINT) AS candidate_pairs
         |FROM occ GROUP BY band ORDER BY band""".stripMargin,

    // the bucket-audit arithmetic replayed at EVERY widening-schedule
    // width over the same plane-table CTEs — the widths grid is a
    // VALUES table, bands per width bounded by 32 // bits
    "dedup_band_plan" ->
      s"""WITH ${VectorOps.signatureCtesSql(VectorOps.clusterPlanes)},
         |widths(bits) AS (VALUES ${
          (EmbClusterBandBits to EmbSigBits by EmbBandWidenStep)
            .map(b => s"($b)").mkString(", ")}),
         |bands AS (
         |  SELECT w.bits, bk.vec_id, CAST(gs.range AS INT) AS band,
         |    (bucket >> (CAST(gs.range AS INT) * w.bits))
         |      & ((CAST(1 AS BIGINT) << w.bits) - 1) AS bh
         |  FROM bk CROSS JOIN widths w
         |  CROSS JOIN range(${EmbSigBits / EmbClusterBandBits}) gs
         |  WHERE gs.range < $EmbSigBits // w.bits),
         |occ AS (SELECT bits, band, bh, count(*) AS k
         |        FROM bands GROUP BY 1, 2, 3)
         |SELECT bits AS band_bits, CAST($EmbSigBits // bits AS INT) AS n_bands,
         |  CAST(sum(k * (k - 1)) / 2 AS BIGINT) AS candidate_pairs,
         |  CAST(sum(k * (k - 1)) / 2 AS BIGINT) <= $EmbCandidateMaxPairs
         |    AS under_default_cap
         |FROM occ GROUP BY bits ORDER BY band_bits""".stripMargin,

    "dedup_winnow_pairs" ->
      s"""WITH ${TextOps.winnowFpsSqlCtes},
         |wf AS (SELECT doc_id, unnest(fps) AS fp FROM f),
         |ok AS (SELECT fp FROM wf GROUP BY fp
         |       HAVING count(*) BETWEEN 2 AND $WinnowPostingCap),
         |wfo AS (SELECT wf.doc_id, wf.fp FROM wf JOIN ok USING (fp)),
         |pr AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
         |  FROM wfo a JOIN wfo b ON a.fp = b.fp AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2 HAVING count(*) >= $WinnowMinShared),
         |nf AS (SELECT doc_id, len(fps) AS n_fp FROM f)
         |SELECT doc_a, doc_b, n_shared,
         |  round(CAST(n_shared AS DOUBLE)
         |    / (na.n_fp + nb.n_fp - n_shared), 4) AS overlap_est
         |FROM pr JOIN nf na ON na.doc_id = doc_a
         |        JOIN nf nb ON nb.doc_id = doc_b
         |ORDER BY doc_a, doc_b""".stripMargin,

    "dedup_containment_pairs" ->
      s"""WITH ${TextOps.winnowFpsSqlCtes},
         |wf AS (SELECT doc_id, unnest(fps) AS fp FROM f),
         |ok AS (SELECT fp FROM wf GROUP BY fp
         |       HAVING count(*) BETWEEN 2 AND $WinnowPostingCap),
         |wfo AS (SELECT wf.doc_id, wf.fp FROM wf JOIN ok USING (fp)),
         |pr AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
         |  FROM wfo a JOIN wfo b ON a.fp = b.fp AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2 HAVING count(*) >= $WinnowMinShared),
         |nf AS (SELECT doc_id, len(fps) AS n_fp FROM f)
         |SELECT doc_a, doc_b, n_shared,
         |  round(CAST(n_shared AS DOUBLE) / na.n_fp, 4) AS contain_a,
         |  round(CAST(n_shared AS DOUBLE) / nb.n_fp, 4) AS contain_b,
         |  round(greatest(CAST(n_shared AS DOUBLE) / na.n_fp,
         |    CAST(n_shared AS DOUBLE) / nb.n_fp), 4) AS contain_max
         |FROM pr JOIN nf na ON na.doc_id = doc_a
         |        JOIN nf nb ON nb.doc_id = doc_b
         |ORDER BY doc_a, doc_b""".stripMargin,

    "pipeline_decontaminate_semantic" ->
      s"""WITH ev AS (
         |  SELECT vec_id AS evid, CAST(embedding AS DOUBLE[]) AS ee
         |  FROM embeddings WHERE vec_id % $DecontamEvalMod = 0),
         |sc AS (
         |  SELECT t.vec_id, ev.evid,
         |    round(list_cosine_similarity(
         |      CAST(t.embedding AS DOUBLE[]), ev.ee), 4) AS cos,
         |    row_number() OVER (PARTITION BY t.vec_id
         |      ORDER BY round(list_cosine_similarity(
         |        CAST(t.embedding AS DOUBLE[]), ev.ee), 4) DESC,
         |        ev.evid ASC) AS rn
         |  FROM embeddings t CROSS JOIN ev
         |  WHERE t.vec_id % $DecontamEvalMod <> 0)
         |SELECT vec_id, evid AS nearest_eval, cos AS max_cos,
         |  cos >= $SemanticDecontamTau AS contaminated
         |FROM sc WHERE rn = 1 ORDER BY vec_id""".stripMargin,

    "pipeline_decontaminate" ->
      s"""WITH ${TextOps.winnowFpsSqlCtes(DecontamK, DecontamW)},
         |ex AS (SELECT doc_id, len(fps) AS n_fp, unnest(fps) AS fp FROM f),
         |pool AS (SELECT DISTINCT fp FROM ex
         |         WHERE doc_id % $DecontamEvalMod = 0)
         |SELECT e.doc_id, e.n_fp, count(*) AS n_hit,
         |  round(CAST(count(*) AS DOUBLE) / e.n_fp, 4) AS hit_frac,
         |  count(*) >= $DecontamMinShared AS contaminated
         |FROM ex e JOIN pool p USING (fp)
         |WHERE e.doc_id % $DecontamEvalMod <> 0
         |GROUP BY 1, 2
         |ORDER BY doc_id""".stripMargin)
}
