package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{cosineWithNorms, dot, hash60, norm2, shingles, tokens}
import graft.sources.Tables
import graft.operators.Artifacts.PersistOps

/** SURVEY §2.D — deduplication for training-data pipelines.
  *
  * Scale design: nothing here is O(n²) over the corpus and nothing
  * broadcasts a corpus-sized relation. MinHash/SimHash signatures are
  * linear map+partial-agg work; candidate pairs are only generated inside
  * MinHash band buckets (salt a hot bucket before the self-join if a
  * degenerate corpus produces one); the exact verify steps (n-gram
  * Jaccard / cosine) run on candidates only, joined back to the signature
  * relation with shuffle hash joins keyed on doc_id — never a broadcast
  * of the signature table, which is terabytes at the 100 TB posture.
  */
object Dedup {

  /** MinHash permutations are arithmetic over the 60-bit shingle hashes:
    * mh_j = min over h of (a_j * (h mod p) + b_j) mod p, p = 2^31 - 1.
    * Pure int64 math (no per-permutation md5), identical in DuckDB; the
    * (a_j, b_j) literals are embedded in both engines. */
  val MinhashP: Long = 2147483647L
  val NumPerms = 16
  val NumBands = 4
  val RowsPerBand: Int = NumPerms / NumBands
  private[graft] def perm(j: Int): (Long, Long) = (
    1 + graft.functions.localHash60(s"minhash_a_$j") % (MinhashP - 1),
    graft.functions.localHash60(s"minhash_b_$j") % MinhashP)

  /** Exact dedup by content hash: one summary row (corpus, distinct, dupes). */
  def ddExact(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(md5(col("text"))).as("n_distinct"),
        (count(lit(1)) - countDistinct(md5(col("text")))).as("n_dupes"))

  /** doc_id, source, 60-bit hash set of the distinct n-gram shingles
    * (hs). Set math downstream runs on the numeric hashes: identical
    * sizes to the string sets (the oracle hashes the same way, so even a
    * collision would be mirrored), far cheaper to shuffle and compare.
    * The tokenize→shingle→distinct→md5 chain is ONE native codegen'd
    * pass ([[org.apache.spark.sql.graftexpr.HashWordNgrams]]) — the HOF
    * spelling paid an interpreted closure per element at every step and
    * was the dominant dedup cost. */
  private def signatureTable(s: SparkSession, dir: String, n: Int): DataFrame =
    withReps(Tables.load(s, dir, "documents")
        // The test corpus is one parquet file = one input split;
        // signature work is narrow, so spread it before the per-doc
        // column math (a real corpus arrives in many splits and skips
        // this shuffle). Width stays AQE-coalescible — an explicit
        // count was A/B-measured SLOWER in r21 (it disables AQE's
        // coalescing and over-splits the tiny local relation).
        .repartition(col("doc_id"))
        .withColumn("hs",
          org.apache.spark.sql.graftexpr.TextExpressions.hashWordNgrams(col("text"), n))
        .select("doc_id", "source", "hs"))
      // ONE persisted table carrying shingle hashes, minhash signature
      // and group rep together — built in a single pass over the corpus
      // (the separate hs and mh relations this replaces each
      // materialized their own corpus-sized cache). It feeds every plan
      // branch (band self-join sides, the expansion joins, the jaccard
      // lookups); the cache boundary also stops Catalyst from
      // re-inlining the shingle expressions into downstream lambdas /
      // pushed-down filters, where per-element re-evaluation is
      // pathological. At cluster scale this is exactly the signature
      // table a production dedup pipeline writes once. (CacheManager
      // dedups the entry across repeated calls on the same session.)
      .cachedPersist()
      // NULL-signature (no-shingle) docs drop HERE, above the cache
      // boundary: below it the predicate reaches the parquet scan with
      // the whole signature chain inlined (see withReps)
      .filter(col("mh").isNotNull)

  /** MinHash band-bucket candidate pairs (doc_a < doc_b) for a signature
    * relation carrying `doc_id` + `hs`. [[NumPerms]] permutations folded
    * into [[NumBands]] band hashes; only documents agreeing on a whole
    * band become candidates — the O(n) LSH path shared by the minhash
    * and n-gram verify queries.
    *
    * DEGENERATE-CORPUS DEFENSE: documents with IDENTICAL signatures are
    * collapsed to one representative before banding, because a
    * mass-duplicated document (the common pathology in crawled corpora)
    * would otherwise flood a single band bucket and make the self-join
    * quadratic in the duplication factor. The band join runs on distinct
    * signatures only; member pairs are then expanded from the group
    * relation — within-group pairs directly (identical signatures share
    * every band, so they are always candidates) and cross-group pairs
    * through the representative pair. The expansion is output-bound
    * (those pairs ARE the answer), while the join compute becomes
    * proportional to distinct content. The produced pair set is
    * EXACTLY the naive band join's (spec-asserted), so the DuckDB
    * oracles keep the simple formulation.
    *
    * Docs with no shingles yield a NULL minhash signature and are
    * dropped before grouping — same semantics as the oracle, whose
    * unnest produces no rows for them. (A size(ss)>0 filter would
    * instead get pushed into the scan with the whole shingle subtree
    * inlined.) */
  private[graft] def lshCandidates(docs: DataFrame): DataFrame =
    bandCandidates(withReps(docs)
      .cachedPersist()
      .filter(col("mh").isNotNull))

  /** Adds the minhash signature (`mh`) and signature-group
    * representative (`rep`) to a relation carrying `doc_id` + `hs`.
    * Empty-shingle docs carry a NULL signature; the CALLER drops them
    * ON TOP of the cache boundary — a filter here pushes through the
    * repartition+projections into the parquet scan with the whole
    * shingle+minhash subtree inlined, so the ONE-TIME signature build
    * (the family's dominant cost, and at cluster scale the real pass)
    * ran the full chain TWICE per document (plan-dump verified). The
    * NULL signatures form one extra window partition in the build;
    * no-shingle (< n token) docs are rare in a real corpus, and the
    * group-min over them is trivial either way.
    *
    * All NumPerms minima come from one codegen'd pass over hs (the HOF
    * form — one interpreted array_min(transform(...)) per permutation —
    * was the dominant dedup cost). The group representative is an
    * unordered window min keyed by the RAW signature array (partition
    * width = ONE signature's duplication factor, never corpus-sized).
    * Grouping directly on `mh` (Spark hashes and compares arrays
    * natively) replaces the old md5(concat(16 casts)) sigkey: the VALUES
    * of the key never cross engines — the oracle derives its own
    * banding — only the induced partition of documents must match, and
    * array equality is exactly minhash-tuple equality (no collision
    * caveat, no 32-byte string shuffle, and a far smaller codegen unit:
    * the string spelling dominated this stage's cost). */
  private[graft] def withReps(docs: DataFrame): DataFrame = {
    val (as, bs) = (0 until NumPerms).map(perm).unzip
    docs
      .withColumn("mh",
        org.apache.spark.sql.graftexpr.SketchExpressions
          .minhashSignature(col("hs"), as, bs, MinhashP))
      .withColumn("rep", min("doc_id").over(
        org.apache.spark.sql.expressions.Window.partitionBy("mh")))
  }

  /** Band self-join + group expansion over a (persisted) signature
    * table from [[withReps]]. The caller persists the input: it feeds
    * several plan branches (band self-join sides, the two expansion
    * joins, the within-group self-join) — without the cache boundary
    * each branch re-runs the signature pipeline (measured 3s -> 16s at
    * sf0.1). */
  private def bandCandidates(sigs: DataFrame): DataFrame = {
    val membership = sigs.select("rep", "doc_id")
    // one row per distinct signature: its representative's row
    val reps = sigs.filter(col("doc_id") === col("rep")).select("rep", "mh")
    // band key = the band's raw minhash sub-array (slice is codegen'd;
    // same no-hash argument as the `mh` group key above)
    val bandStructs = (0 until NumBands).map { b =>
      struct(lit(b).as("band"),
        slice(col("mh"), RowsPerBand * b + 1, RowsPerBand).as("bh"))
    }
    val bands = reps
      .select(col("rep"), explode(array(bandStructs: _*)).as("e"))
      .select(col("rep"), col("e.band").as("band"), col("e.bh").as("bh"))
    // distinct-content-scale self-join: shuffle on the band hash. A hot
    // band value (one near-universal shingle pattern) would serialize
    // its whole cell into one reduce task — skew-bounded adaptively
    // (Joins.skewBound: per-cell rows <= ~cap, exact pair set).
    val (bandsS, bandsR) = Joins.skewBound(bands, bands,
      Seq("band", "bh"), Seq("band", "bh"), hash(col("rep")))
    val repPairs = bandsR.as("a")
      .join(bandsS.as("b").hint("shuffle_hash"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.__split_r") === col("b.__split") &&
          col("a.rep") < col("b.rep"))
      .select(col("a.rep").as("ra"), col("b.rep").as("rb"))
      .distinct()
    val cross = repPairs
      .join(membership.select(col("rep").as("ra"), col("doc_id").as("da"))
        .hint("shuffle_hash"), "ra")
      .join(membership.select(col("rep").as("rb"), col("doc_id").as("db"))
        .hint("shuffle_hash"), "rb")
      .select(least(col("da"), col("db")).as("doc_a"),
        greatest(col("da"), col("db")).as("doc_b"))
    val within = membership.as("x")
      .join(membership.as("y").hint("shuffle_hash"),
        col("x.rep") === col("y.rep") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
    // No final distinct: every doc belongs to exactly ONE signature
    // group, so a (doc_a, doc_b) pair is produced by exactly one rep
    // pair (cross, already distinct on rep pairs) or one group (within),
    // and the two branches are disjoint by construction.
    cross.union(within)
  }

  /** Joins candidate pairs back to the signature relation on doc_id —
    * shuffle hash joins (candidate side hinted as build), NEVER a
    * broadcast: the signature relation is corpus-sized. Output keeps the
    * pair ids plus `hsa`/`hsb` (and `source` of doc_a, for grouping). */
  private def joinSignatures(cand: DataFrame, docs: DataFrame): DataFrame = {
    val hsA = docs.select(col("doc_id"), col("source"), col("hs"))
    val hsB = docs.select(col("doc_id"), col("hs"))
    cand
      .hint("shuffle_hash").join(hsA, col("doc_a") === col("doc_id"))
      .withColumnRenamed("hs", "hsa").drop("doc_id")
      .hint("shuffle_hash").join(hsB, col("doc_b") === col("doc_id"))
      .withColumnRenamed("hs", "hsb").drop("doc_id")
  }

  // One-pass native set Jaccard — semantics identical to
  // size(array_intersect)/size(array_union) (equivalence spec-gated),
  // without the two hash passes + discarded intermediate arrays of the
  // Catalyst spelling, per candidate pair in every verify hot path.
  private def jaccard(a: String, b: String) =
    org.apache.spark.sql.graftexpr.SketchExpressions.jaccardSet(col(a), col(b))

  /** MinHash (16 int-arithmetic permutations) -> 4x4 LSH bands ->
    * candidate pairs -> exact Jaccard verification.
    *
    * All signature work is narrow per-document column math (no explode,
    * no shuffle); the only shuffles are the band self-join and the
    * candidate-keyed signature hash joins. */
  def ddMinhashLsh(s: SparkSession, dir: String): DataFrame =
    verifiedPairs(s, dir)
      .select("doc_a", "doc_b", "jaccard")
      .orderBy("doc_a", "doc_b")

  /** Sketch-quality audit of the MinHash estimator — for every LSH
    * candidate pair, the ESTIMATED Jaccard (fraction of agreeing
    * signature components, the textbook unbiased estimator) next to the
    * EXACT shingle Jaccard and the absolute error. This is the dedup
    * twin of sim_ann_recall: a sketch you can't measure is a sketch you
    * can't tune (banding thresholds, permutation count). Reuses the ONE
    * persisted signature table (hs + mh in hand — no extra corpus pass)
    * and the candidate relation; the compare is candidate-sized,
    * shuffle_hash joined, and every emitted number is an exact small
    * rational (k/16, |A∩B|/|A∪B|) so doubles replay cross-engine. */
  def ddMinhashEst(s: SparkSession, dir: String): DataFrame = {
    val sig = signatureTable(s, dir, 3)
    // the exact Jaccard comes from the SHARED persisted verified-pairs
    // relation (one cold pipeline per session for the whole family);
    // only the tiny 16-long mh vectors join on top of it
    val vp = verifiedPairs(s, dir).select("doc_a", "doc_b", "jaccard")
    val a = sig.select(col("doc_id"), col("mh").as("mha"))
    val b = sig.select(col("doc_id"), col("mh").as("mhb"))
    val est = size(filter(zip_with(col("mha"), col("mhb"), (x, y) => x === y),
      p => p)).cast("double") / lit(NumPerms.toDouble)
    vp
      .hint("shuffle_hash").join(a, col("doc_a") === col("doc_id")).drop("doc_id")
      .hint("shuffle_hash").join(b, col("doc_b") === col("doc_id")).drop("doc_id")
      .select(col("doc_a"), col("doc_b"),
        est.as("est_jaccard"), col("jaccard"))
      .withColumn("abs_err", abs(col("est_jaccard") - col("jaccard")))
      .orderBy("doc_a", "doc_b")
  }

  /** LSH candidates with their exact Jaccard — the verified-pairs table
    * a production dedup pipeline materializes ONCE and serves to every
    * consumer (the pair listing `dd_minhash_lsh`, the clustering
    * `dd_cluster`, keep-one policies). Persisted for exactly that
    * reason; CacheManager dedups the entry across queries in a session,
    * and the relation is candidate-sized (output-bound), never
    * corpus-sized. */
  private def verifiedPairs(s: SparkSession, dir: String): DataFrame = {
    val sig = signatureTable(s, dir, 3)
    joinSignatures(bandCandidates(sig), sig)
      .select(col("doc_a"), col("doc_b"), col("source"),
        jaccard("hsa", "hsb").as("jaccard"))
      .cachedPersist()
  }

  /** The near-dup edge relation (verified pairs at jaccard ≥ 0.5) the
    * composite pipeline (pipe_e2e) restricts to its survivor set —
    * reads the SAME persisted [[verifiedPairs]] the whole family
    * shares. */
  private[operators] def nearDupEdges(s: SparkSession, dir: String): DataFrame =
    verifiedPairs(s, dir)
      .filter(col("jaccard") >= 0.5)
      .select(col("doc_a"), col("doc_b"))

  /** Per-doc surviving word count after ExactSubstr span cuts — the
    * token-yield column the composite pipeline joins; reads the SAME
    * persisted span relation as the dd_substr_* faces. */
  private[operators] def substrKeptWords(s: SparkSession, dir: String): DataFrame =
    substrPerDoc(s, dir).select(col("doc_id"), col("kept_words"))

  /** Cross-source duplication matrix — for every (source, source) pair,
    * how many verified near-dup pairs (Jaccard >= 0.5, the dd_cluster
    * edge threshold) link them and how many are near-identical
    * (>= 0.9): the contamination/provenance dashboard a corpus curator
    * reads before mixing sources ("is crawlA mostly a mirror of
    * crawlB?"). Another consumer of the ONE persisted verified-pairs
    * relation — no new corpus pass; one doc_id-keyed shuffle_hash join
    * fetches doc_b's source and the matrix aggregate is
    * O(|sources|²). Counts only — no doubles cross engines. */
  def ddSourceOverlap(s: SparkSession, dir: String): DataFrame = {
    val srcB = Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("source").as("source_b"))
    verifiedPairs(s, dir)
      .filter(col("jaccard") >= 0.5)
      .hint("shuffle_hash").join(srcB, col("doc_b") === col("doc_id"))
      .select(least(col("source"), col("source_b")).as("src_a"),
        greatest(col("source"), col("source_b")).as("src_b"),
        col("jaccard"))
      .groupBy("src_a", "src_b")
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("jaccard") >= 0.9, 1L).otherwise(0L)).as("n_near_identical"))
      .orderBy("src_a", "src_b")
  }

  /** SimHash near-dup pair histogram with GUARANTEED recall at the
    * hamming threshold, via multi-band blocking (the rotate-and-block
    * design of Manku et al., "Detecting Near-Duplicates for Web
    * Crawling", WWW'07 — public literature): a 60-bit signature split
    * into [[SimhashBands]] disjoint 15-bit bands; by pigeonhole, any
    * pair within hamming <= [[SimhashMaxHamming]] (= bands - 1) agrees
    * exactly on at least one band, so banding misses nothing. Each band
    * has 2^15 values, so bucket sizes stay subquadratic at corpus scale
    * (vs the single-top-byte blocking this replaces: 256 O(n)-sized
    * buckets AND missed pairs differing in the top byte). Signatures
    * are one codegen'd pass; the only shuffles are the 4 band
    * self-joins (one explode) and the pair distinct. */
  val SimhashBits = 60
  val SimhashBands = 4
  val SimhashBandBits: Int = SimhashBits / SimhashBands // 15
  val SimhashMaxHamming: Int = SimhashBands - 1

  /** The per-doc simhash signature relation SHARED by the whole
    * simhash family (dd_simhash's histogram and dd_simhash_est's
    * calibration) — one signature pipeline per session, the
    * [[signatureTable]] posture; CacheManager dedups the persist across
    * the queries' identical plans. */
  private def simhashDocs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")
      // cheap scan-level predicate; a size(tk)>0 filter would inline the
      // token expression into the pushed-down scan filter
      .filter(length(trim(col("text"))) > 0)
      // spread the single input split (AQE-coalescible width — see the
      // signature-table note)
      .repartition(col("doc_id"))
      // hashes of the DISTINCT tokens in one native pass (1-grams) —
      // same values as array_distinct(tokens) hashed elementwise
      .select(col("doc_id"),
        org.apache.spark.sql.graftexpr.TextExpressions
          .hashWordNgrams(col("text"), 1).as("hs"))
      .withColumn("sig", org.apache.spark.sql.graftexpr.SketchExpressions
        .simhash(col("hs"), SimhashBits))
      .cachedPersist()

  def ddSimhash(s: SparkSession, dir: String): DataFrame = {
    val docs = simhashDocs(s, dir)
    // DEGENERATE-CORPUS DEFENSE (same argument as [[lshCandidates]]):
    // group documents by full signature first, run the band self-join on
    // DISTINCT signatures only, and — because the output is a pair
    // HISTOGRAM, not the pairs — expand by counting group products
    // instead of materializing member pairs at all: a signature group of
    // size g contributes C(g,2) hamming-0 pairs, and a colliding
    // signature pair (A, B) contributes |A|*|B| pairs at their hamming.
    // Join compute AND output are both decoupled from the duplication
    // factor; the histogram provably equals the naive per-pair count
    // (spec-asserted). Persisted: the group relation feeds both sides
    // of the band self-join.
    simhashHistogram(docs.select(col("sig")))
  }

  /** (hamming, n_pairs) histogram for a signature relation carrying
    * `sig` — the group-product core of [[ddSimhash]] (see its Scaladoc
    * for the degenerate-corpus argument). */
  /** Sketch-quality audit of the SimHash distance — for every banded
    * candidate pair (hamming <= [[SimhashMaxHamming]], recall
    * guaranteed by the Manku pigeonhole), the signature hamming
    * DISTANCE next to the EXACT token-set Jaccard: the calibration
    * table ("what similarity does hamming 2 actually mean on MY
    * corpus?") that turns the banding threshold from folklore into a
    * measurement — completing the estimator-audit trilogy with
    * dd_minhash_est and the sim_*_recall family. Unlike dd_simhash's
    * group-product HISTOGRAM, this face materializes the pairs — the
    * pairs ARE the answer, so the work is output-bound by definition;
    * every join is shuffle_hash pinned and all emitted numbers are
    * integers or exact set-ratio rationals. */
  def ddSimhashEst(s: SparkSession, dir: String): DataFrame =
    simhashCalibration(simhashDocs(s, dir))

  /** Calibration core of [[ddSimhashEst]] over a (doc_id, sig, hs)
    * relation — separated so the degenerate-corpus output bound is
    * fixture-testable (DedupSpec). */
  private[graft] def simhashCalibration(docs: DataFrame): DataFrame = {
    val mask = (1L << SimhashBandBits) - 1
    // DEGENERATE-CORPUS BOUND (VERDICT r13 item 5): the band self-join
    // runs on DISTINCT signatures (the dd_simhash wire posture), so join
    // compute is O(distinct signatures) regardless of duplication; and
    // hamming-0 identity groups — which would emit C(g,2) per-pair rows
    // on a mass-duplicated corpus — collapse to ONE representative pair
    // (the group's two smallest doc ids) carrying the pair multiplicity
    // in `n_pairs`. Per-pair rows remain only for hamming >= 1, where
    // the pairs are the calibration answer. Output is O(distinct
    // signatures + cross-signature pairs), spec-asserted on the
    // mass-duplicated fixture.
    // PERSISTED since r22 (re-A/B of the r16 "persist was slower"
    // verdict, VERDICT r22 next-round #4): the distinct-signature
    // aggregate feeds the band subtree AND the reps group join. The r16
    // measurement (cold 9.97 vs 4.43 s, never faster) PREDATES the r21
    // spark.sql.optimizer.canChangeCachedPlanOutputPartitioning config —
    // with AQE now free to re-partition over the cached fragment, five
    // paired same-session A/Bs put the persist ahead 4/5 (pass-2 median
    // 3.64 → 2.35 s, −35%): the cache boundary lets AQE size the band
    // self-join and reps stages from the REAL signature count instead
    // of the corpus-scan estimate.
    val sigs = docs.groupBy("sig").agg(count(lit(1)).as("g")).cachedPersist()
    val bands = sigs.select(col("sig"),
        explode(array((0 until SimhashBands).map(b =>
          struct(lit(b).as("band"),
            expr(s"(sig >> ${SimhashBandBits * b}) & $mask").as("bv"))): _*)).as("e"))
      .select(col("sig"), col("e.band").as("band"), col("e.bv").as("bv"))
    val (bandsS, bandsR) = Joins.skewBound(bands, bands,
      Seq("band", "bv"), Seq("band", "bv"), hash(col("sig")))
    val sigPairs = bandsR.as("a")
      .join(bandsS.as("b").hint("shuffle_hash"),
        col("a.band") === col("b.band") && col("a.bv") === col("b.bv") &&
          col("a.__split_r") === col("b.__split") &&
          col("a.sig") < col("b.sig"))
      .select(col("a.sig").as("sa"), col("b.sig").as("sb"),
        expr("CAST(bit_count(a.sig ^ b.sig) AS BIGINT)").as("hamming"))
      .filter(col("hamming").between(1, SimhashMaxHamming))
      .distinct() // a signature pair may collide in several bands
    val da = docs.select(col("sig").as("sa"), col("doc_id").as("ida"), col("hs").as("hsa"))
    val db = docs.select(col("sig").as("sb"), col("doc_id").as("idb"), col("hs").as("hsb"))
    val cross = sigPairs
      .hint("shuffle_hash").join(da, "sa")
      .hint("shuffle_hash").join(db, "sb")
      .select(least(col("ida"), col("idb")).as("doc_a"),
        greatest(col("ida"), col("idb")).as("doc_b"),
        col("hamming"), jaccard("hsa", "hsb").as("jaccard"),
        lit(1L).as("n_pairs"))
    // hamming-0 representatives: the two smallest doc ids per signature
    // group through the bounded-heap TopKPerKey (k=2 per (sig,
    // partition) on the wire, no corpus-wide sig-partitioned sort — the
    // prior row_number window exchanged AND sorted the whole skinny
    // corpus). Runs on (doc_id, sig) ONLY — dragging the hs token-hash
    // arrays through it costs more than the rest of the query
    // (bench-measured); the two rep docs' hs join back doc-keyed
    // afterwards, O(groups) array rows on the wire.
    val reps0 = org.apache.spark.sql.graftexpr.TopKPerKey
      .perKey(docs.select(col("doc_id"), col("sig")),
        Seq("sig"), Seq(("doc_id", true)), 2)
      .groupBy("sig")
      .agg(count(lit(1)).as("nr"),
        min(col("doc_id")).as("doc_a"), max(col("doc_id")).as("doc_b"))
      .filter(col("nr") === 2)
      .join(sigs.hint("shuffle_hash"), "sig")
    // fetch BOTH rep docs' hs through ONE doc-keyed join (explode the
    // pair, regroup O(groups) rows) — two separate joins would shuffle
    // the full corpus hs relation twice
    val reps = reps0
      .select(col("sig"), col("g"), col("doc_a"), col("doc_b"),
        explode(array(col("doc_a"), col("doc_b"))).as("rid"))
      .hint("shuffle_hash")
      .join(docs.select(col("doc_id").as("rid"), col("hs")), "rid")
      .groupBy("sig", "g", "doc_a", "doc_b")
      .agg(expr("min_by(hs, rid)").as("hsa"), expr("max_by(hs, rid)").as("hsb"))
      .select(col("doc_a"), col("doc_b"), lit(0L).as("hamming"),
        // REPRESENTATIVE measurement: the group's n_pairs = C(g,2) pairs
        // need not share one jaccard (simhash-equal docs can have
        // different token sets — the fixture has 1.0 next to 10/12);
        // this is the sampled jaccard of the (min, max) rep pair, a
        // calibration point, not a bound over the collapsed pairs.
        jaccard("hsa", "hsb").as("jaccard"),
        expr("g * (g - 1) div 2").as("n_pairs"))
    cross.union(reps).orderBy("doc_a", "doc_b")
  }

  /** Word-k-gram size for [[ddSpanFrac]] — the 8-10 word window Lee et
    * al. use; long enough that a shared gram means a genuinely repeated
    * span, short enough that boilerplate sentences register. */
  val SpanGramN = 8

  /** Cross-document duplicated-SPAN statistics — the public Lee et al.
    * 2022 finding ("Deduplicating Training Data Makes Language Models
    * Better"): document-level dedup misses text repeated WITHIN
    * otherwise-distinct documents (boilerplate, licenses, quoted spans).
    * Per document: the fraction of its distinct word [[SpanGramN]]-grams
    * that occur in ANY other document — the doc-granular curation
    * signal ("how much of this document is corpus-repeated text?").
    *
    * Scale posture: gram extraction is one native codegen'd pass
    * (HashWordNgrams — distinct 60-bit gram hashes per doc, never gram
    * strings); the occurrence count groups BY GRAM HASH, so the shuffle
    * carries O(distinct grams) keys with map-side combine (each doc
    * contributes a gram once), and the count join back is hash-keyed on
    * the same gram column — the [[ddCrossSource]] wire posture at doc
    * granularity. No pair relation ever exists, so a mass-duplicated
    * corpus costs O(total grams) scan, never O(n²). */
  /** Content-defined-chunk dedup map (the rsync/LBFS posture,
    * Muthitacharoen et al. SOSP '01 — the chunk-store shape modern
    * dataset dedup reuses): each document splits at rolling-hash-chosen
    * boundaries ([[org.apache.spark.sql.graftexpr.TextExpressions
    * .cdcChunksEval]], ~64-codepoint expected chunks), so two documents
    * sharing ANY long span — even at different offsets, which defeats
    * both whole-doc hashing and fixed-stride shingling windows tuned
    * short — share the interior chunks of that span verbatim. Emits the
    * cross-document shared-chunk relation: md5 identity, length,
    * document/occurrence counts, min-doc representative.
    *
    * Scale: chunking is one narrow codegen'd kernel pass; the only
    * shuffle is the partial-aggregated groupBy on the chunk hash
    * (O(total chunks) rows of ~50 bytes, no text moves — md5 computed
    * before the exchange); output is bounded by DISTINCT shared chunks.
    * Nothing all-pairs exists at any stage, so a 100x-duplicated corpus
    * grows the shuffle linearly and the output not at all. */
  def ddCdcChunks(s: SparkSession, dir: String): DataFrame =
    // served from the SAME persisted (doc_id, ch, clen) relation the
    // coverage/cluster faces read ([[cdcChunksRel]] — it IS this
    // query's pre-aggregate projection): the chunk kernel runs once
    // per session instead of once per invocation (r21; the grouping
    // KEY SET is literally unchanged from the old (ch, chunk_len)
    // spelling — keep clen in the key: dropping it would merge md5
    // collisions of different lengths, changing semantics vs the oracle)
    cdcChunksRel(s, dir)
      .groupBy(col("ch"), col("clen").as("chunk_len"))
      .agg(count_distinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occ"),
        min(col("doc_id")).as("rep_doc"))
      .filter(col("n_docs") >= 2)
      .orderBy("ch")

  /** Per-document chunk-level duplication coverage — the consumer face
    * of [[ddCdcChunks]]'s chunk map, and the offset-robust analogue of
    * [[ddSpanFrac]]: the fraction of each document's codepoint mass
    * lying in chunks that also occur in ANOTHER document. dd_span_frac
    * counts fixed-width word 8-grams, so a shared span shifted by
    * whitespace-collapsing edits still matches but a long verbatim
    * block is counted gram-by-gram; the CDC face counts the block once
    * per ~64-codepoint chunk and survives arbitrary surrounding edits.
    *
    * Same wire shape as dd_span_frac: the chunk relation (persisted —
    * the per-chunk doc counts and the per-doc join-back both read it,
    * and the filter sits above the cache boundary so no kernel
    * expression re-inlines into the scan), occurrence counts grouped by
    * chunk hash (O(total chunks), map-side combinable), a hash-keyed
    * count join back, and a left join so chunkless (empty) documents
    * still report with a NULL fraction. */
  /** The (doc_id, ch, clen) chunk relation, persisted — the coverage
    * face's two consumers and the cluster face all read it. */
  private def cdcChunksRel(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")
      .select(col("doc_id"),
        explode_outer(org.apache.spark.sql.graftexpr.TextExpressions
          .cdcChunks(col("text"))).as("chunk"))
      .filter(col("chunk").isNotNull)
      .select(col("doc_id"), md5(col("chunk")).as("ch"),
        length(col("chunk")).cast("bigint").as("clen"))
      .cachedPersist()

  def ddCdcCoverage(s: SparkSession, dir: String): DataFrame = {
    val chunks = cdcChunksRel(s, dir)
    val shared = chunks.groupBy("ch")
      .agg(count_distinct(col("doc_id")).as("nd"))
    val perDoc = chunks.hint("shuffle_hash").join(shared, "ch")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        sum(col("clen")).as("n_cps"),
        sum(when(col("nd") >= 2, col("clen")).otherwise(0L)).as("shared_cps"))
    Tables.load(s, dir, "documents").select(col("doc_id"))
      .join(perDoc.hint("shuffle_hash"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_chunks"), lit(0L)).as("n_chunks"),
        coalesce(col("n_cps"), lit(0L)).as("n_cps"),
        coalesce(col("shared_cps"), lit(0L)).as("shared_cps"),
        when(coalesce(col("n_cps"), lit(0L)) > 0,
          col("shared_cps").cast("double") / col("n_cps").cast("double"))
          .as("shared_frac"))
      .orderBy("doc_id")
  }

  /** Chunk-sharing near-dup clusters — the CDC family's cluster face,
    * completing its map→coverage→cluster shape to match the minhash
    * family: documents whose chunk mass is MOSTLY shared
    * (`shared_cps·2 >= n_cps`, exact integer cross-multiplication)
    * enter the graph, an edge links each such document to the minimum
    * qualifying document of every chunk they share (a STAR per chunk —
    * O(distinct (chunk, doc)) edges by construction, never the
    * all-pairs m² a clique expansion would emit on an m-way-shared
    * chunk), and connected components ([[connectedComponents]] pointer
    * doubling, O(log diameter) rounds) label the clusters. A document
    * that shares chunks but is mostly unique (boilerplate lines inside
    * otherwise-distinct pages) stays out of the graph — the qualifying
    * gate is what keeps "share a common footer" from merging the
    * corpus into one cluster. Emits (cluster_id, n_members). */
  private def cdcLabels(s: SparkSession, dir: String): DataFrame =
    ccLabels(s, dir, "cdc", "documents") {
      val chunks = cdcChunksRel(s, dir)
      val sh = chunks.groupBy("ch")
        .agg(count_distinct(col("doc_id")).as("nd"))
      val perDoc = chunks.hint("shuffle_hash").join(sh, "ch")
        .groupBy("doc_id")
        .agg(sum(col("clen")).as("n_cps"),
          sum(when(col("nd") >= 2, col("clen")).otherwise(0L)).as("shared_cps"))
      val nodes = perDoc
        .filter(col("n_cps") > 0L && col("shared_cps") * 2 >= col("n_cps"))
        .select("doc_id")
      val de = chunks
        .join(sh.filter(col("nd") >= 2), "ch")
        .join(nodes.hint("shuffle_hash"), "doc_id")
        .select("ch", "doc_id").distinct()
      val mn = de.groupBy("ch").agg(min(col("doc_id")).as("mv"))
      de.hint("shuffle_hash").join(mn, "ch")
        .filter(col("doc_id") =!= col("mv"))
        .select(col("mv").as("doc_a"), col("doc_id").as("doc_b")).distinct()
    }

  def ddCdcCluster(s: SparkSession, dir: String): DataFrame =
    cdcLabels(s, dir)
      .groupBy("lbl").agg(count(lit(1)).as("n_members"))
      .select(col("lbl").as("cluster_id"), col("n_members"))
      .orderBy("cluster_id")

  /** Keep-one over the chunk-sharing clusters — the [[ddKeepOne]]
    * consumer shape on the CDC labels: drop every non-representative
    * cluster member, report surviving volume per source. */
  def ddCdcKeepOne(s: SparkSession, dir: String): DataFrame = {
    val losers = cdcLabels(s, dir)
      .filter(col("v") =!= col("lbl")).select(col("v"))
    Tables.load(s, dir, "documents")
      .join(losers.hint("shuffle_hash"), col("doc_id") === col("v"), "left_anti")
      .groupBy("source").agg(count(lit(1)).as("n_kept"))
      .orderBy("source")
  }

  /** The (doc_id, line_no, lh, llen) normalized-line relation feeding
    * both line-dedup faces, persisted (one split pass serves the
    * occurrence counts and the per-doc join-back). Normalization is the
    * C4 recipe's core: split on newlines, trim surrounding spaces, drop
    * blank lines. The md5 line identity is computed BEFORE any exchange
    * — line text never shuffles (the [[ddCdcChunks]] posture); line_no
    * is the 0-based index among the document's RAW split lines, so the
    * keep-first representative is well-defined against the original
    * layout. posexplode_outer keeps Catalyst from inferring a size>0
    * scan filter with the split subtree inlined (SURVEY §4). */
  private[graft] def lineRelOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
        posexplode_outer(split(col("text"), "\n")).as(Seq("line_no", "line")))
      .select(col("doc_id"), col("line_no").cast("bigint").as("line_no"),
        trim(col("line")).as("ln"))
      .filter(length(col("ln")) > 0)
      .select(col("doc_id"), col("line_no"), md5(col("ln")).as("lh"),
        length(col("ln")).cast("bigint").as("llen"))

  private def lineRel(s: SparkSession, dir: String): DataFrame =
    lineRelOf(Tables.load(s, dir, "documents")).cachedPersist()

  /** The O(distinct lines) occurrence relation over a normalized-line
    * relation — the line-dedup family's only corpus-keyed shuffle
    * (map-side combinable; ScaleStressSpec asserts its row bound under
    * 100× duplication). */
  private[graft] def lineOccurrences(lines: DataFrame): DataFrame =
    lines.groupBy("lh")
      .agg(count(lit(1)).as("n_occ"),
        count_distinct(col("doc_id")).as("n_docs"),
        min(col("llen")).as("llen"),
        min(struct(col("doc_id"), col("line_no"))).as("keep"))

  /** C4/RefinedWeb-style exact line-level dedup — the production pass
    * document-level dedup (dd_exact/dd_minhash_lsh) misses: a line or
    * paragraph duplicated corpus-wide (boilerplate navigation, cookie
    * banners, licence footers) is removed EVERYWHERE except its first
    * occurrence (C4, Raffel et al. 2020 §2.2 dedups three-sentence
    * spans; RefinedWeb dedups exact lines). Per document: total lines,
    * lines whose normalized text occurs anywhere else in the corpus,
    * lines the keep-first rule drops (every occurrence except the
    * lexicographic-min (doc_id, line_no)), and the dropped/kept
    * codepoint mass.
    *
    * Scale: the split is a narrow explode, identity is md5'd before the
    * exchange, the occurrence counts are one map-side-combinable groupBy
    * on the line hash (O(distinct lines) state, the [[ddSpanFrac]] wire
    * posture), the join-back is shuffle-hash keyed on the hash, and the
    * output is one row per document. Nothing is all-pairs; a
    * 100x-duplicated corpus grows the shuffle linearly and distinct-line
    * state not at all (ScaleStressSpec). */
  def ddLineDedup(s: SparkSession, dir: String): DataFrame = {
    val lines = lineRel(s, dir)
    val occ = lineOccurrences(lines).select("lh", "n_occ", "keep")
    val isKeep = col("keep").getField("doc_id") === col("doc_id") &&
      col("keep").getField("line_no") === col("line_no")
    val perDoc = lines.hint("shuffle_hash").join(occ, "lh")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_lines"),
        sum(col("llen")).as("n_cps"),
        sum(when(col("n_occ") >= 2, 1L).otherwise(0L)).as("n_dup_lines"),
        sum(when(col("n_occ") >= 2 && !isKeep, 1L).otherwise(0L)).as("n_dropped"),
        sum(when(col("n_occ") >= 2 && !isKeep, col("llen")).otherwise(0L))
          .as("dropped_cps"))
    Tables.load(s, dir, "documents").select(col("doc_id"))
      .join(perDoc.hint("shuffle_hash"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_lines"), lit(0L)).as("n_lines"),
        coalesce(col("n_cps"), lit(0L)).as("n_cps"),
        coalesce(col("n_dup_lines"), lit(0L)).as("n_dup_lines"),
        coalesce(col("n_dropped"), lit(0L)).as("n_dropped"),
        coalesce(col("dropped_cps"), lit(0L)).as("dropped_cps"))
      .orderBy("doc_id")
  }

  /** The corpus keep-first map over duplicated lines — [[ddLineDedup]]'s
    * other output face: one row per DISTINCT corpus-duplicated line
    * (hash identity), its occurrence/document counts, codepoint length
    * and the keep-first (doc_id, line_no) representative every other
    * occurrence defers to. O(distinct duplicated lines) rows — the
    * relation a production line-dedup pass broadcasts per partition or
    * semi-joins against at apply time. */
  def ddLineMap(s: SparkSession, dir: String): DataFrame =
    lineOccurrences(lineRel(s, dir))
      .filter(col("n_occ") >= 2)
      .select(col("lh"), col("llen"), col("n_occ"), col("n_docs"),
        col("keep").getField("doc_id").as("keep_doc"),
        col("keep").getField("line_no").as("keep_line"))
      .orderBy("lh")

  def ddSpanFrac(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(s, dir, "documents")
      .filter(length(trim(col("text"))) > 0)
      .select(col("doc_id"),
        // distinct-by-hash, matching the oracle's list_distinct over
        // the hashed grams (HashWordNgrams dedups by gram string)
        array_distinct(org.apache.spark.sql.graftexpr.TextExpressions
          .hashWordNgrams(col("text"), SpanGramN)).as("hs"))
      // persisted (the simhashDocs posture): without it, Catalyst's
      // inferred join-key/Generate filters push the gram expression
      // into the scan and the full tokenize+hash runs ~3x per document
      .cachedPersist()
    val e = docs.select(col("doc_id"), explode(col("hs")).as("g"))
    val gcnt = e.groupBy("g").agg(count(lit(1)).as("n"))
    val perDoc = e.hint("shuffle_hash").join(gcnt, "g")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("n") >= 2, 1L).otherwise(0L)).as("n_dup"))
    // left join back so sub-k-gram docs (no spans) still report, with a
    // NULL fraction — the oracle replays the same shape
    docs.select(col("doc_id"))
      .join(perDoc.hint("shuffle_hash"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_dup"), lit(0L)).as("n_dup"),
        when(coalesce(col("n_grams"), lit(0L)) > 0,
          col("n_dup").cast("double") / col("n_grams").cast("double"))
          .as("dup_frac"))
      .orderBy("doc_id")
  }

  // ── ExactSubstr span REMOVAL (Lee et al. 2022, "Deduplicating
  //    Training Data Makes Language Models Better") ─────────────────

  /** Positional gram relation behind [[ddSubstrRemove]] /
    * [[ddSubstrVolume]]: per document, its token count and the 60-bit
    * hash of EVERY [[SpanGramN]]-word gram with its start position
    * (index in the array) — [[ddSpanFrac]] only needs WHETHER a gram
    * recurs; removal needs WHERE, so this keeps duplicates and order
    * (the [[org.apache.spark.sql.graftexpr.HashWordNgramsSeq]] kernel:
    * one tokenize pass yields both the count and the grams). Persisted
    * — the cache boundary keeps Catalyst's inferred scan filters from
    * inlining the tokenize+hash subtree (SURVEY §4), and both faces
    * read it. */
  private[graft] def substrGramRelOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), col("source"),
        org.apache.spark.sql.graftexpr.TextExpressions
          .hashWordNgramsSeq(col("text"), SpanGramN).as("raw"))
      .select(col("doc_id"), col("source"),
        element_at(col("raw"), 1).as("n_words"),
        slice(col("raw"), lit(2), greatest(size(col("raw")) - 1, lit(0))).as("gs"))

  private def substrGramRel(s: SparkSession, dir: String): DataFrame =
    substrGramRelOf(Tables.load(s, dir, "documents")).cachedPersist()

  /** Shared per-document removal accounting: which words an ExactSubstr
    * pass cuts. A gram occurrence is removable iff its gram occurs
    * anywhere else in the corpus AND it is not the keep-first
    * (lexicographic-min (doc_id, pos)) occurrence; removable start
    * positions ≤ [[SpanGramN]] apart merge into maximal disjoint spans
    * (gram coverage [pos, pos+n) unions exactly — a gap ≤ n means the
    * earlier gram still covers it), and every merged span is ≥
    * [[SpanGramN]] words — the Lee et al. removal threshold at gram
    * granularity.
    *
    * Scale: occurrence counts + keep-first are ONE map-side-combinable
    * O(distinct grams) aggregate (the [[lineOccurrences]] posture — a
    * struct-min inside the agg, no window over the fact stream); the
    * join-back is shuffle-hash on the gram hash; the island windows run
    * over SKINNY (doc_id, pos) longs with partitions bounded by
    * per-document gram counts, never corpus-wide. Nothing is all-pairs;
    * 100× duplication grows the shuffle linearly and distinct-gram
    * state not at all (ScaleStressSpec). */
  /** Persisted span relation for the dir-driven faces: all three
    * (remove / spans / volume) read ONE occurrence-count + island pass
    * instead of re-running it per face (O(removed spans) rows — tiny,
    * and CacheManager dedups only persisted plans). */
  private def substrSpans(s: SparkSession, dir: String): DataFrame =
    substrSpansOf(substrGramRel(s, dir)).cachedPersist()

  private def substrPerDoc(s: SparkSession, dir: String): DataFrame =
    substrPerDocFrom(substrGramRel(s, dir), substrSpans(s, dir))

  /** The removed-span relation `(doc_id, s, e)` — maximal disjoint
    * word-offset intervals an ExactSubstr pass cuts (see
    * [[substrPerDocOf]] for the keep-first/island mechanics). `n` is
    * the gram size the positions were keyed on (word face:
    * [[SpanGramN]]; BPE-token face: [[TokGramN]] — same machinery,
    * different granularity). */
  private[graft] def substrSpansOf(docs: DataFrame, n: Int = SpanGramN): DataFrame = {
    val e = docs.select(col("doc_id"),
      posexplode(col("gs")).as(Seq("pos", "g")))
    val occ = e.groupBy("g")
      .agg(count(lit(1)).as("n_occ"),
        min(struct(col("doc_id"), col("pos"))).as("keep"))
    val rm = e.hint("shuffle_hash").join(occ, "g")
      .filter(col("n_occ") >= 2 &&
        !(col("keep").getField("doc_id") === col("doc_id") &&
          col("keep").getField("pos") === col("pos")))
      .select(col("doc_id"), col("pos").cast("bigint").as("pos"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
    rm
      .withColumn("brk",
        when(col("pos") - lag(col("pos"), 1).over(w) <= n.toLong, 0L)
          .otherwise(1L))
      .withColumn("island", sum(col("brk")).over(w.rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .groupBy("doc_id", "island")
      .agg(min(col("pos")).as("s"),
        (max(col("pos")) + lit(n.toLong)).as("e"))
  }

  private[graft] def substrPerDocOf(docs: DataFrame): DataFrame =
    substrPerDocFrom(docs, substrSpansOf(docs))

  private def substrPerDocFrom(docs: DataFrame, spans: DataFrame): DataFrame = {
    val perDoc = spans.groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"), sum(col("e") - col("s")).as("rm_words"))
    docs.select(col("doc_id"), col("source"), col("n_words"))
      .join(perDoc.hint("shuffle_hash"), Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"), col("n_words"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("rm_words"), lit(0L)).as("rm_words"),
        (col("n_words") - coalesce(col("rm_words"), lit(0L))).as("kept_words"))
  }

  /** ExactSubstr span-removal accounting per document (Lee et al. 2022
    * §3.2): the one production dedup pass [[ddSpanFrac]] measures but
    * does not apply — verbatim duplicated runs of ≥ [[SpanGramN]] words
    * merge into maximal spans and every non-keep-first occurrence is
    * cut. Emits per doc: token count, spans cut, words removed, words
    * surviving — the retained-text stats a pipeline joins back to slice
    * documents at apply time (positions are word offsets into the
    * whitespace tokenization, exactly reconstructible). */
  def ddSubstrRemove(s: SparkSession, dir: String): DataFrame =
    substrPerDoc(s, dir)
      .select(col("doc_id"), col("n_words"), col("n_spans"),
        col("rm_words"), col("kept_words"))
      .orderBy("doc_id")

  /** The span MAP itself — [[ddSubstrRemove]]'s apply-time face (the
    * [[ddLineMap]] role at span granularity): one row per removed
    * maximal span, `(doc_id, s, e)` word offsets into the whitespace
    * tokenization — exactly what a slicing pass joins against to cut
    * the text. O(removed spans) rows. */
  def ddSubstrSpans(s: SparkSession, dir: String): DataFrame =
    substrSpans(s, dir)
      .select(col("doc_id"), col("s"), col("e"))
      .orderBy("doc_id", "s")

  /** The APPLY-TIME sliced corpus — what [[ddSubstrSpans]] exists for
    * (VERDICT r18 #2, completing Lee et al. 2022 end-to-end: measure →
    * map → remove → CORPUS): every document's surviving text after the
    * removed word-offset spans are cut from its whitespace
    * tokenization, plus the kept-word count and the text's md5 (the
    * content fingerprint a downstream packing pass pins).
    *
    * Scale: the span relation is O(removed spans) and pre-aggregated
    * per doc (collect_list bounded by a document's own span count),
    * the join back to the corpus is shuffle-hash on doc_id (linear,
    * no window over the fact stream), and the slice itself is a
    * chunk-local indexed `filter` over each document's tokens —
    * O(n_words · spans_in_doc) per document, nothing corpus-wide.
    * The reconstruction joins single-space tokens (the tokenization
    * the offsets index), so runs of whitespace collapse — the
    * documented canonical form, identical in the oracle's
    * `string_agg(w, ' ' ORDER BY i)` replay. */
  def ddSubstrKeep(s: SparkSession, dir: String): DataFrame =
    substrKeepOf(Tables.load(s, dir, "documents"), substrSpans(s, dir))
      .orderBy("doc_id")

  /** The slicing pass under [[ddSubstrKeep]]: cut `spans`' word-offset
    * intervals out of each document's whitespace tokenization. */
  private[graft] def substrKeepOf(docs: DataFrame, spans: DataFrame): DataFrame = {
    val sp = spans
      .groupBy("doc_id")
      .agg(collect_list(struct(col("s"), col("e"))).as("sp"))
    docs
      .select(col("doc_id"), graft.functions.tokens(col("text")).as("tk"))
      .join(sp.hint("shuffle_hash"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        filter(col("tk"), (_, i) => !exists(
          coalesce(col("sp"), array().cast("array<struct<s:bigint,e:bigint>>")),
          p => i.cast("bigint") >= p.getField("s") &&
            i.cast("bigint") < p.getField("e"))).as("kept"))
      .select(col("doc_id"),
        size(col("kept")).cast("bigint").as("n_kept_words"),
        concat_ws(" ", col("kept")).as("kept_text"))
      .withColumn("kept_md5", md5(col("kept_text")))
  }

  /** Gram size, in BPE TOKENS, for the token-granularity ExactSubstr
    * face — Lee et al. 2022 §3.2 operate at ~50 BPE tokens; the word
    * face ([[SpanGramN]] = 8 words) is the same machinery at a coarser
    * key. */
  val TokGramN = 50

  /** Positional-gram relation of [[ddSubstrTok]]: the corpus re-keyed
    * on its TRAINED BPE tokenization ([[TextAnalysis.trainedMerges]] —
    * the same fit txt_bpe_encode serves from). Each word's merge chain
    * runs once per DISTINCT word (the encode-over-types posture: the
    * dictionary is O(vocabulary), joined back shuffle-hash), the
    * document's BPE token sequence reassembles order-exactly
    * (array_sort over (word position, piece string) structs), and the
    * canonical space-joined token text feeds the SAME one-pass
    * [[org.apache.spark.sql.graftexpr.HashWordNgramsSeq]] kernel as
    * the word face — positions are now BPE-token offsets. Persisted:
    * the spans pass and the per-doc rollup both read it. */
  private def substrTokRel(s: SparkSession, dir: String): DataFrame = {
    val merges = TextAnalysis.trainedMerges(s, dir)
    val toks = Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("source"),
        posexplode_outer(TextAnalysis.bpeTokens(col("text")))
          .as(Seq("wpos", "w")))
    val dict = toks.select(col("w")).where(col("w").isNotNull).distinct()
      .select(col("w"), {
        val enc = TextAnalysis.applyMerges(merges, col("w"))
        // "|a||bc|" -> "a bc": the word's BPE pieces space-joined
        // (pieces are substrings of a whitespace token, so they
        // contain neither spaces nor the `|` delimiter)
        regexp_replace(enc.substr(lit(2), length(enc) - 2), "\\|\\|", " ")
          .as("ps")
      })
    val byDoc = toks
      .join(dict.hint("shuffle_hash"), Seq("w"), "left")
      .groupBy("doc_id", "source")
      .agg(concat_ws(" ",
        transform(array_sort(collect_list(struct(col("wpos"), col("ps")))),
          e => e.getField("ps"))).as("bpe_text"))
    byDoc
      .select(col("doc_id"), col("source"),
        org.apache.spark.sql.graftexpr.TextExpressions
          .hashWordNgramsSeq(col("bpe_text"), TokGramN).as("raw"))
      .select(col("doc_id"), col("source"),
        element_at(col("raw"), 1).as("n_words"),
        slice(col("raw"), lit(2), greatest(size(col("raw")) - 1, lit(0))).as("gs"))
      .cachedPersist()
  }

  /** ExactSubstr accounting at the PAPER's granularity (VERDICT r18
    * #4): [[ddSubstrRemove]]'s pass re-keyed on trained-BPE token ids
    * with the ~50-token threshold Lee et al. 2022 §3.2 use — verbatim
    * duplicated runs of ≥ [[TokGramN]] BPE tokens merge into maximal
    * spans, every non-keep-first occurrence is cut, and the counts are
    * BPE tokens (the unit a training pipeline actually budgets).
    * Identical scale posture to the word face: one O(distinct grams)
    * occurrence aggregate, skinny per-doc island windows, plus the
    * O(vocabulary) encode dictionary. */
  def ddSubstrTok(s: SparkSession, dir: String): DataFrame = {
    val rel = substrTokRel(s, dir)
    // persisted tok-span relation since r22 (VERDICT r22 next-round #7;
    // the substrSpans posture — O(removed spans) rows): three paired
    // same-session A/Bs vs the per-invocation occurrence pass, persist
    // ahead 3/3 (pass-2 median 1.98 → 1.05 s, −47%)
    substrPerDocFrom(rel, substrSpansOf(rel, TokGramN).cachedPersist())
      .select(col("doc_id"),
        col("n_words").as("n_bpe"),
        col("n_spans"),
        col("rm_words").as("rm_tokens"),
        col("kept_words").as("kept_tokens"))
      .orderBy("doc_id")
  }

  /** The surviving corpus volume per source after the [[ddSubstrRemove]]
    * pass — the [[ddKeepOne]] consumer shape at span granularity: how
    * much of each source's token mass an ExactSubstr pass keeps, and
    * how many of its documents get cut at all. */
  def ddSubstrVolume(s: SparkSession, dir: String): DataFrame =
    substrPerDoc(s, dir)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("rm_words") > 0, 1L).otherwise(0L)).as("n_docs_cut"),
        sum(col("n_words")).as("total_words"),
        sum(col("rm_words")).as("rm_words"),
        sum(col("kept_words")).as("kept_words"))
      .orderBy("source")

  private[graft] def simhashHistogram(sigs: DataFrame): DataFrame = {
    val mask = (1L << SimhashBandBits) - 1
    val groups = sigs
      .groupBy("sig").agg(count(lit(1)).as("g"))
      .cachedPersist()
    val bands = groups.select(col("sig"), col("g"),
        explode(array((0 until SimhashBands).map(b =>
          struct(lit(b).as("band"),
            expr(s"(sig >> ${SimhashBandBits * b}) & $mask").as("bv"))): _*)).as("e"))
      .select(col("sig"), col("g"), col("e.band").as("band"), col("e.bv").as("bv"))
    // distinct-signature-scale self-join: shuffle on the band value,
    // skew-bounded (a hot 15-bit band value — e.g. one shared by every
    // near-boilerplate signature — would otherwise own one reduce task)
    val (bandsS, bandsR) = Joins.skewBound(bands, bands,
      Seq("band", "bv"), Seq("band", "bv"), hash(col("sig")))
    val cross = bandsR.as("a")
      .join(bandsS.as("b").hint("shuffle_hash"),
        col("a.band") === col("b.band") && col("a.bv") === col("b.bv") &&
          col("a.__split_r") === col("b.__split") &&
          col("a.sig") < col("b.sig"))
      .select(col("a.sig").as("sa"), col("b.sig").as("sb"),
        expr("CAST(bit_count(a.sig ^ b.sig) AS BIGINT)").as("hamming"),
        (col("a.g") * col("b.g")).as("n"))
      .filter(col("hamming") <= SimhashMaxHamming)
      .distinct() // a signature pair may collide in several bands
    val within = groups.filter(col("g") > 1)
      // integer div: `/` would be double division, losing exactness for
      // large duplication factors
      .select(lit(0L).as("hamming"), expr("g * (g - 1) div 2").as("n"))
    cross.select(col("hamming"), col("n")).union(within)
      .groupBy("hamming").agg(sum(col("n")).as("n_pairs"))
      .orderBy("hamming")
  }

  /** Exact word-trigram Jaccard verification over MinHash-LSH candidate
    * pairs, summarized per source of the lower doc id. The candidate set
    * is O(near-duplicates), not O(n²): pairs exist only where a full
    * minhash band agrees, and the exact set math runs on candidates
    * only. Reads the SAME persisted [[verifiedPairs]] relation as the
    * pair listing and the clustering — one shingle index, one verify
    * pass, three consumers, exactly as a production pipeline shares its
    * signature table. */
  def ddNgramJaccard(s: SparkSession, dir: String): DataFrame =
    verifiedPairs(s, dir)
      .groupBy("source")
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("jaccard") >= 0.5, 1L).otherwise(0L)).as("n_close"),
        max(col("jaccard")).as("max_jac"))
      .orderBy("source")

  /** Probe depth for [[ddEmbedNear]]: every vector probes each bucket
    * within this hamming distance of its own, so near-pairs straddling
    * up to this many hyperplanes are recovered. */
  val EmbedProbeDepth = 2

  /** All XOR masks of hamming weight <= `depth` over the NumPlanes sign
    * bits (22 masks at depth 2 over 6 planes). A candidate pair matches
    * through exactly ONE mask — the XOR of the two buckets — so
    * multi-probe needs no dedup step at any depth, and candidate volume
    * scales by |masks|, never by corpus size. */
  private[graft] def probeMasks(depth: Int): Seq[Long] =
    (0L until (1L << Similarity.NumPlanes))
      .filter(m => java.lang.Long.bitCount(m) <= depth)

  /** Bucketed relation (`n2`, `bucket`) and its depth-probed twin
    * (`probe` exploded over the ≤depth masks) for any `(vec_id, label,
    * emb)` relation — the ONE candidate-generation core shared by the
    * near-dup pair join ([[embedNearPairs]], undirected `<` + cosine
    * floor) and the k-NN self-join ([[Similarity.simKnnJoin]], directed
    * `!=`, no floor): a probing change (depth, planes, the
    * one-mask-per-pair invariant) lands in both paths by construction. */
  private[operators] def bucketProbe(raw: DataFrame, depth: Int): (DataFrame, DataFrame) = {
    // coalesce makes n2 provably non-nullable: the post-join `cos > 0.3`
    // constraint would otherwise infer isnotnull(cos) -> isnotnull(n2),
    // and push it below the join into BOTH corpus scans WITH THE WHOLE
    // graft_dot subtree inlined — an extra O(n·d) pass per scan (the
    // pushdown-duplication class; cure (b), see PlanShapeSpec's
    // scan-filter gate). A null emb yields n2=0 here, and its pair rows
    // die at the cos filter anyway (dot(null, ·) is null).
    val e = raw
      .withColumn("n2", coalesce(norm2(col("emb")), lit(0.0)))
      .withColumn("bucket", Similarity.bucketCol(col("emb")))
    val probed = e.withColumn("probe", explode(array(
      probeMasks(depth).map(m => col("bucket").bitwiseXOR(lit(m))): _*)))
    (e, probed)
  }

  /** Pair generation for [[ddEmbedNear]] over any `(vec_id, label,
    * emb)` relation — factored out so the recall contract (a planted
    * pair straddling two hyperplanes IS recovered at depth 2) is
    * spec-testable on synthetic vectors. */
  private[graft] def embedNearPairs(raw: DataFrame, depth: Int): DataFrame = {
    val (e, probed) = bucketProbe(raw, depth)
    // corpus-scale on both sides: bucket-keyed shuffle join, no
    // broadcast of the corpus. Skew-bounded (Joins.skewBound): a
    // crowded hyperplane region — half the corpus on one side of every
    // plane is the pathological-but-real embedding distribution — lands
    // a hot bucket whose cell would serialize one reduce task; the hot
    // relation is bounded by O(2^planes × |labels|) keys (key-space
    // bounded BY CONSTRUCTION, hence the plan-time broadcast — see
    // PlanShapeSpec's reasoned allowlist).
    val (eS, probedR) = Joins.skewBound(e, probed,
      Seq("bucket", "label"), Seq("probe", "label"),
      hash(col("vec_id")), broadcastCounts = true)
    probedR.as("a").join(eS.as("b").hint("shuffle_hash"),
        col("a.probe") === col("b.bucket") && col("a.label") === col("b.label") &&
          col("a.__split_r") === col("b.__split") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.label").as("label"),
        col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        cosineWithNorms(dot(col("a.emb"), col("b.emb")),
          col("a.n2"), col("b.n2")).as("cos"))
      .filter(col("cos") > 0.3)
  }

  /** The corpus's embedding near-dup pair relation — ONE persisted
    * table shared by every consumer of the semantic-dedup chain (the
    * pair listing `dd_embed_near`, the clustering `dd_embed_cluster`,
    * the keep-one `dd_semantic_keep_one`), exactly as the minhash
    * family shares [[verifiedPairs]]: the bucket-blocked multi-probe
    * join runs once per session, and the persisted relation is
    * pair-sized (output-bound), never corpus-sized. CacheManager dedups
    * the entry across queries in a session. */
  private def corpusEmbedPairs(s: SparkSession, dir: String): DataFrame =
    embedNearPairs(
      Tables.load(s, dir, "embeddings")
        .select(col("vec_id"), col("label"),
          col("embedding").cast("array<double>").as("emb")),
      EmbedProbeDepth)
      .cachedPersist()

  /** Embedding-cosine near-duplicate pairs, blocked on the random-
    * hyperplane LSH bucket (the same 6-plane signature the similarity
    * path uses, [[Similarity.bucketCol]]) with `label` kept as a
    * secondary equality predicate. Bucket cardinality is 2^6 per label
    * and bucket size is O(n/2^planes) for spread embeddings — the pair
    * join is subquadratic and adding planes tightens it further; an
    * all-pairs-per-label join would be O(n²) at corpus scale.
    *
    * MULTI-PROBE at depth [[EmbedProbeDepth]]: one side probes every
    * bucket within hamming distance 2 of its own (22 probes over 6
    * planes), so near-pairs straddling one OR two hyperplanes are
    * recovered — deeper than the standard hamming-1 multi-probe, still
    * a constant candidate-cost factor. Pairs differing in >2 sign bits
    * remain out of reach; this is approximate BY DESIGN (the exact
    * variant is the all-pairs join this replaced). See [[probeMasks]]
    * for why no dedup step is needed.
    * Norms are computed once per vector before the pairwise join. */
  def ddEmbedNear(s: SparkSession, dir: String): DataFrame =
    corpusEmbedPairs(s, dir)
      .orderBy("label", "vec_a", "vec_b")

  /** Semantic dedup clusters — [[ddCluster]]'s terminal step applied to
    * the EMBEDDING near-dup graph: connected components over
    * [[ddEmbedNear]]'s pairs (bucket-blocked, multi-probed, cosine-
    * verified), each cluster labeled by its minimum vec_id and reported
    * with its size. The same pointer-doubled CC loop serves both pair
    * families — at corpus scale the embedding graph is the one a
    * semantic-dedup pass resolves before keep-one. */
  /** The memoized CC labels of the embedding pair graph — the ONE edge
    * derivation both semantic consumers share (drifting a copy would
    * silently cross-serve labels through the shared memo key). */
  private def embedLabels(s: SparkSession, dir: String): DataFrame =
    ccLabels(s, dir, "embed", "embeddings")(
      corpusEmbedPairs(s, dir).select(col("vec_a"), col("vec_b")))

  /** Ditto for the minhash family: verified pairs at jaccard >= 0.5. */
  private def minhashLabels(s: SparkSession, dir: String): DataFrame =
    ccLabels(s, dir, "minhash", "documents")(
      verifiedPairs(s, dir)
        .filter(col("jaccard") >= 0.5)
        .select(col("doc_a"), col("doc_b")))

  def ddEmbedCluster(s: SparkSession, dir: String): DataFrame = {
    embedLabels(s, dir)
      .groupBy("lbl").agg(count(lit(1)).as("n_members"))
      .select(col("lbl").as("cluster_id"), col("n_members"))
      .orderBy("cluster_id")
  }

  /** Semantic keep-one — the terminal consumer of the EMBEDDING near-dup
    * chain (the semantic twin of [[ddKeepOne]]): every cluster of
    * [[ddEmbedCluster]]'s graph keeps only its canonical survivor
    * (minimum vec_id); surviving volume is reported per label. The anti
    * join runs against the non-canonical member set — O(vectors-in-pairs),
    * tiny relative to the corpus — keyed on vec_id with a shuffle hash
    * join, so the embedding table never broadcasts and never self-joins
    * outside the bucket-blocked pair generation. */
  def ddSemanticKeepOne(s: SparkSession, dir: String): DataFrame = {
    val losers = embedLabels(s, dir)
      .filter(col("v") =!= col("lbl")).select(col("v"))
    Tables.load(s, dir, "embeddings").select("vec_id", "label")
      .join(losers.hint("shuffle_hash"), col("vec_id") === col("v"), "left_anti")
      .groupBy("label").agg(count(lit(1)).as("n_kept"))
      .orderBy("label")
  }

  /** Duplicate-cluster resolution — the step a production dedup pipeline
    * runs after pair generation: connected components over the verified
    * near-duplicate pairs (MinHash-LSH candidates whose exact Jaccard is
    * >= 0.5), each cluster labeled by its minimum doc_id (the canonical
    * survivor a keep-one policy would retain). Components come from
    * iterative min-label propagation with pointer doubling: each round
    * every vertex takes the min label among itself, its neighbors and
    * its label's label — one hash-partitioned join, one label-keyed
    * self-join and a partial-agg groupBy per round, converging in
    * O(log diameter) rounds (near-dup clusters are clique-ish, so 2-3
    * rounds in practice; the shortcut keeps even chain-shaped
    * components logarithmic). Rounds are checkpointed ([[Checkpoints]]:
    * executor-local by default, reliable-to-shared-storage under
    * spark.graft.reliableCheckpoints for cluster recovery): the label
    * relation is O(docs-in-dup-pairs), far smaller than the corpus, and
    * truncating lineage keeps round t's plan from embedding rounds
    * 0..t-1.
    * Nothing corpus-sized crosses the driver — the only driver-side
    * action is the one-row convergence probe per round. */
  def ddCluster(s: SparkSession, dir: String): DataFrame = {
    minhashLabels(s, dir)
      .groupBy("lbl").agg(count(lit(1)).as("n_members"))
      .select(col("lbl").as("cluster_id"), col("n_members"))
      .orderBy("cluster_id")
  }

  /** The deduplicated corpus itself — the terminal consumer of the
    * whole near-dup chain: every cluster keeps only its canonical
    * survivor (minimum doc id), everything else is dropped, reported as
    * surviving volume per source. The anti join runs against the
    * non-canonical member set, which is O(docs-in-dup-pairs) — tiny
    * relative to the corpus — and is keyed on doc_id with a shuffle
    * hash join, so the corpus never broadcasts and never self-joins. */
  def ddKeepOne(s: SparkSession, dir: String): DataFrame = {
    val losers = minhashLabels(s, dir)
      .filter(col("v") =!= col("lbl")).select(col("v"))
    Tables.load(s, dir, "documents")
      .join(losers.hint("shuffle_hash"), col("doc_id") === col("v"), "left_anti")
      .groupBy("source").agg(count(lit(1)).as("n_kept"))
      .orderBy("source")
  }

  /** Connected-component labels for one pair family of `dir`, memoized
    * per (session, dir, family) and keyed by the source table's CONTENT
    * fingerprint (the Artifacts store): the CC loop is a driver-side
    * iteration whose per-round checkpoints are fresh relations, so
    * CacheManager can never dedup it — without the memo the cluster
    * listing and the keep-one pass each run the full loop over
    * identical edges. The label relation is checkpoint-backed and
    * O(vertices-in-pairs) — nothing corpus-sized is pinned.
    *
    * The edges argument flows through the family's PERSISTED pair
    * relation ([[verifiedPairs]] / [[corpusEmbedPairs]]); persisted
    * store entries follow the file contents of the plans they persist,
    * so a table rewritten in place rebuilds both. */
  private[graft] def ccLabels(s: SparkSession, dir: String, family: String,
      table: String)(edges: => DataFrame): DataFrame =
    Artifacts.scoped(s, dir, table, s"cc:$family")(connectedComponents(edges))

  /** Connected components over an undirected edge list (first two
    * columns = endpoint ids): returns (v, lbl) where lbl is the minimum
    * vertex id in v's component. See [[ddCluster]] for the scale
    * rationale of the propagation loop. */
  def connectedComponents(edgesIn: DataFrame): DataFrame = {
    // All checkpoints in the loop are LAZY: the next action over each
    // frame (the count here, the label-sum probe per round) materializes
    // the checkpoint in the SAME job, so every round costs one job
    // instead of an eager-checkpoint job plus a probe job — at loop
    // iteration counts the fixed job-dispatch cost is the floor.
    // Checkpoints.truncate picks local vs reliable per the session's
    // spark.graft.reliableCheckpoints posture (cluster recovery).
    val edges = edgesIn
      .select(edgesIn.columns.take(2).toIndexedSeq.map(col): _*).toDF("ea", "eb")
      .transform(Checkpoints.truncate)
    // Size the loop's shuffle width by the edge relation, not the
    // session default: every round pays a fixed per-partition cost
    // (task dispatch, checkpoint, probe), so a near-dup graph that is
    // tiny relative to the corpus must not shuffle 32 ways per round —
    // while a genuinely large graph keeps the full width. The count is
    // one cheap job over the just-checkpointed edges.
    val maxP = edgesIn.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val p = math.max(1L, math.min(maxP.toLong, edges.count() / 100000L + 1L)).toInt
    // pre-hash the (static) undirected edge relation on the join key
    // once — both checkpoint flavors preserve the partitioning, so every
    // round's propagation join reuses it and only the (smaller) label
    // relation shuffles per round
    val und = edges.union(edges.select(col("eb"), col("ea")))
      .toDF("src", "dst")
      .repartition(p, col("dst"))
      .transform(Checkpoints.truncate)
    var labels = und.select(col("src").as("v")).distinct()
      .withColumn("lbl", col("v")).transform(Checkpoints.truncate)
    def lblSum(df: DataFrame): java.math.BigDecimal = {
      val d = df.agg(sum(col("lbl")).cast("decimal(38,0)")).head().getDecimal(0)
      if (d == null) java.math.BigDecimal.ZERO else d
    }
    // labels only ever decrease, so the label sum is strictly monotone
    // until the fixpoint: comparing sums detects convergence with one
    // cheap aggregate per round instead of a join against the previous
    // labels (decimal: at corpus scale the sum of 10^9 64-bit ids
    // overflows a long)
    var prevSum = lblSum(labels)
    var converged = false
    while (!converged) {
      val prop = und.join(labels, col("dst") === col("v"))
        .select(col("src").as("v"), col("lbl"))
      // POINTER DOUBLING: also adopt the label OF the current label
      // (classic pointer jumping / Shiloach-Vishkin shortcutting). With
      // neighbor propagation alone the min id travels one hop per round
      // — O(diameter) rounds, fine for clique-ish near-dup clusters but
      // pathological for chain-shaped components; shortcutting halves
      // the pointer depth every round, so convergence is O(log
      // diameter) on ANY graph. One extra label-keyed self-join per
      // round, label-relation-sized.
      val viaLbl = labels.as("x")
        .join(labels.select(col("v").as("lv"), col("lbl").as("llbl"))
          .hint("shuffle_hash"), col("x.lbl") === col("lv"))
        .select(col("x.v").as("v"), col("llbl").as("lbl"))
      // pin the per-round aggregate to the same edge-sized width (the
      // explicit hash partitioning satisfies the agg's requirement, so
      // this is ONE exchange, not two)
      val next = labels.union(prop).union(viaLbl).repartition(p, col("v"))
        .groupBy("v").agg(min("lbl").as("lbl"))
        .transform(Checkpoints.truncate)
      val s = lblSum(next)
      converged = s.compareTo(prevSum) == 0
      prevSum = s
      labels = next
    }
    labels
  }

  // ---- Bloom-filter membership sketches (per-source vocabulary) ----

  /** Bloom geometry: 8 words × 62 usable bits = 496 bits, k = 2
    * positions per key by double hashing off the one 60-bit gram hash.
    * 62 bits per word keeps every shift ≤ 61 — no sign-bit shift ever
    * crosses engines (a 1L<<63 overflows differently across SQL
    * dialects). The filter is a commutative-idempotent bit_or
    * semilattice: constant 64 bytes per source on the wire at ANY
    * corpus scale, merge-order invariant, so the DuckDB oracle replays
    * the exact bits. */
  val BloomWords = 8
  val BloomBitsPerWord = 62
  val BloomM: Int = BloomWords * BloomBitsPerWord

  /** One Bloom filter per source over its distinct word hashes — the
    * constant-size membership sketch a 100 TB pipeline keeps per shard
    * to answer "does source X already carry this vocabulary" without a
    * distinct-join (Bloom 1970; the same role the production stacks
    * give per-segment Bloom indexes). ONE tokenize pass (the codegen'd
    * gram kernel), positions from exact int64 double hashing, eight
    * bit_or aggregates — the shuffle carries 8 longs + 1 count per
    * source per partition, never vocabulary. Persisted: the 20-row
    * filter relation feeds both faces. */
  /** Per-word Bloom bit contributions of an arbitrary `(source, text)`
    * relation — shared by the batch faces and the streaming twin
    * ([[graft.streaming.StreamingBloom]]). */
  private[graft] def bloomContrib(docs: DataFrame): DataFrame = {
    val w = BloomBitsPerWord
    docs
      .select(col("source"),
        explode(org.apache.spark.sql.graftexpr.TextExpressions
          .hashWordNgrams(col("text"), 1)).as("h"))
      .selectExpr("source", "h",
        s"h % $BloomM AS p1", s"(h DIV $BloomM) % $BloomM AS p2")
      .selectExpr(
        Seq("source", "h") ++ (0 until BloomWords).map { k =>
          s"""(CASE WHEN p1 DIV $w = $k
             |  THEN shiftleft(CAST(1 AS BIGINT), CAST(p1 % $w AS INT))
             |  ELSE CAST(0 AS BIGINT) END |
             |CASE WHEN p2 DIV $w = $k
             |  THEN shiftleft(CAST(1 AS BIGINT), CAST(p2 % $w AS INT))
             |  ELSE CAST(0 AS BIGINT) END) AS w$k""".stripMargin
        }: _*)
  }

  /** The eight per-source bit_or filter words (the semilattice fold). */
  private[graft] def bloomWordAggs: Seq[org.apache.spark.sql.Column] =
    (0 until BloomWords).map(k => expr(s"bit_or(w$k)").as(s"w$k"))

  private def bloomFilters(s: SparkSession, dir: String): DataFrame =
    Artifacts.persist(bloomContrib(Tables.load(s, dir, "documents"))
      .groupBy("source")
      .agg(countDistinct(col("h")).as("n_grams"), bloomWordAggs: _*))

  private def popcountSql(f: Int => String): String =
    (0 until BloomWords).map(k => s"bit_count(${f(k)})").mkString(" + ")

  /** The per-source filters themselves: word count, the eight filter
    * words, set-bit population and fill ratio (exact integers + one
    * integer-ratio double). */
  def ddBloom(s: SparkSession, dir: String): DataFrame =
    bloomFilters(s, dir)
      .withColumn("bits_set",
        expr(popcountSql(k => s"w$k")).cast("bigint"))
      .withColumn("fill",
        col("bits_set").cast("double") / lit(BloomM.toDouble))
      .orderBy("source")

  /** Cross-source vocabulary overlap straight off the FILTERS — the
    * constant-cost approximation of [[ddSourceOverlap]]'s exact
    * distinct-join (the point of carrying Blooms at 100 TB: the
    * pairwise compare touches 64 bytes per side, never the corpus):
    * per source pair the AND/OR popcounts and the bit-level Jaccard.
    * The S² pair grid IS the declared output; the self-join is a
    * CartesianProduct over two single-partition coalesces of the 64-
    * byte-per-source filter relation (nothing fact-derived broadcasts,
    * and no P_a×P_b task-pair blowup — a 32×32-partition replicate-NL
    * of a 20-row relation measured ~1.3 s of pure task overhead). */
  def ddBloomOverlap(s: SparkSession, dir: String): DataFrame = {
    val f = bloomFilters(s, dir)
    val a = f.select(col("source").as("src_a") +:
      (0 until BloomWords).map(k => col(s"w$k").as(s"a$k")): _*)
    val b = f.select(col("source").as("src_b") +:
      (0 until BloomWords).map(k => col(s"w$k").as(s"b$k")): _*)
    a.coalesce(1).hint("shuffle_replicate_nl").crossJoin(b.coalesce(1))
      .filter(col("src_a") < col("src_b"))
      .withColumn("bits_common",
        expr(popcountSql(k => s"a$k & b$k")).cast("bigint"))
      .withColumn("bits_union",
        expr(popcountSql(k => s"a$k | b$k")).cast("bigint"))
      .select(col("src_a"), col("src_b"), col("bits_common"), col("bits_union"),
        when(col("bits_union") > 0,
          col("bits_common").cast("double") / col("bits_union").cast("double"))
          .as("j_bits"))
      .orderBy("src_a", "src_b")
  }

  // DuckDB twins of the Spark column constructs (see graft.functions).
  private val TOKENS = "list_filter(string_split(text, ' '), x -> len(x) > 0)"
  private def shSql(n: Int): String = {
    val parts = (0 until n).map(k => s"tk[i + $k]").mkString(", ' ', ")
    s"CASE WHEN len(tk) >= $n THEN list_distinct(list_transform(range(1, len(tk) - ${n - 2}), i -> concat($parts))) ELSE CAST([] AS VARCHAR[]) END"
  }
  private val H60 = "CAST('0x' || substring(md5(%s), 1, 15) AS BIGINT)"

  /** CTE chain replaying [[bloomFilters]]: distinct per-source word
    * hashes, double-hashed positions, per-word shift contributions,
    * bit_or fold — ends at `f(source, n_grams, w0..w${BloomWords - 1})`. */
  private def bloomCtes: String = {
    val w = BloomBitsPerWord
    val wordExprs = (0 until BloomWords).map { k =>
      s"""(CASE WHEN p1 // $w = $k
         |  THEN (CAST(1 AS BIGINT) << CAST(p1 % $w AS INT))
         |  ELSE CAST(0 AS BIGINT) END |
         |CASE WHEN p2 // $w = $k
         |  THEN (CAST(1 AS BIGINT) << CAST(p2 % $w AS INT))
         |  ELSE CAST(0 AS BIGINT) END) AS w$k""".stripMargin
    }.mkString(",\n")
    s"""t AS (SELECT source, $TOKENS AS tk FROM documents),
       |e AS (SELECT source, unnest(tk) AS tok FROM t),
       |hh AS (SELECT DISTINCT source, ${H60.format("tok")} AS h FROM e),
       |p AS (SELECT source, h,
       |  h % $BloomM AS p1, (h // $BloomM) % $BloomM AS p2 FROM hh),
       |c AS (SELECT source, h,
       |$wordExprs
       |FROM p),
       |f AS (SELECT source, COUNT(DISTINCT h) AS n_grams,
       |  ${(0 until BloomWords).map(k => s"bit_or(w$k) AS w$k").mkString(", ")}
       |FROM c GROUP BY 1)""".stripMargin
  }

  /** [[shSql]] without the list_distinct — ALL n-grams in order,
    * duplicates kept (the oracle twin of
    * [[org.apache.spark.sql.graftexpr.HashWordNgramsSeq]]'s gram tail). */
  private def shSeqSql(n: Int): String = {
    val parts = (0 until n).map(k => s"tk[i + $k]").mkString(", ' ', ")
    s"CASE WHEN len(tk) >= $n THEN list_transform(range(1, len(tk) - ${n - 2}), i -> concat($parts)) ELSE CAST([] AS VARCHAR[]) END"
  }

  /** CTE chain replaying [[substrPerDoc]] relationally: positional gram
    * hashes via a parallel unnest zip, keep-first via row_number over
    * (doc_id, pos) per gram, islands via the lag/gaps-and-islands
    * window per doc (bounded by doc length). Ends at `pdoc(doc_id,
    * source, n_words, n_spans, rm_words, kept_words)`. Expects a CTE
    * `t(doc_id, source, tk)` upstream (word face: the whitespace
    * tokens; BPE face: the trained-chain token sequence). */
  private def substrChainCtes(n: Int): String = substrChainCtes(n, "t", "")

  /** [[substrChainCtes]] with the source CTE name and a CTE-name prefix
    * parameterized, so composite oracles (pipe_e2e) can splice the chain
    * next to other chains without name collisions; the default form is
    * byte-identical to the historical text. */
  private[operators] def substrChainCtes(n: Int, src: String, p: String): String =
    s"""${p}d0 AS (SELECT doc_id, source, len(tk) AS nw, ${shSeqSql(n)} AS ss FROM $src),
       |${p}d AS (SELECT doc_id, source, nw,
       |  list_transform(ss, x -> ${H60.format("x")}) AS hs FROM ${p}d0),
       |${p}e AS (SELECT doc_id, unnest(hs) AS g, unnest(range(len(hs))) AS pos FROM ${p}d),
       |${p}r AS (SELECT doc_id, pos,
       |  row_number() OVER (PARTITION BY g ORDER BY doc_id, pos) AS rn FROM ${p}e),
       |${p}rm AS (SELECT doc_id, pos FROM ${p}r WHERE rn >= 2),
       |${p}brk AS (SELECT doc_id, pos,
       |  CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
       |    <= $n THEN 0 ELSE 1 END AS b FROM ${p}rm),
       |${p}isl AS (SELECT doc_id, pos, SUM(b) OVER (PARTITION BY doc_id
       |  ORDER BY pos ROWS UNBOUNDED PRECEDING) AS island FROM ${p}brk),
       |${p}spans AS (SELECT doc_id, island, MIN(pos) AS s,
       |  MAX(pos) + $n AS e FROM ${p}isl GROUP BY 1, 2),
       |${p}pd AS (SELECT doc_id, COUNT(*) AS n_spans, SUM(e - s) AS rm_words
       |  FROM ${p}spans GROUP BY 1),
       |${p}pdoc AS (SELECT ${p}d.doc_id, ${p}d.source, CAST(${p}d.nw AS BIGINT) AS n_words,
       |  CAST(COALESCE(${p}pd.n_spans, 0) AS BIGINT) AS n_spans,
       |  CAST(COALESCE(${p}pd.rm_words, 0) AS BIGINT) AS rm_words,
       |  CAST(${p}d.nw - COALESCE(${p}pd.rm_words, 0) AS BIGINT) AS kept_words
       |  FROM ${p}d LEFT JOIN ${p}pd USING (doc_id))""".stripMargin

  private def substrCtes: String =
    s"""t AS (SELECT doc_id, source, $TOKENS AS tk FROM documents),
       |${substrChainCtes(SpanGramN)}""".stripMargin

  /** The dd_substr_tok oracle: [[substrChainCtes]] over the TRAINED BPE
    * token sequence — each word type through the literal merge chain
    * (the bpeEncodeSql posture), pieces space-joined per word, the
    * document's token list re-split from the canonical joined text
    * exactly as the Spark side's HashWordNgramsSeq re-tokenizes it. */
  private def substrTokSql(merges: Seq[(Long, String, String, Long)]): String =
    s"""WITH t0 AS (SELECT doc_id, source,
       |  ${TextAnalysis.BpeTokensSql} AS wtk FROM documents),
       |enc0 AS (SELECT doc_id, source,
       |  list_transform(wtk, w -> ${TextAnalysis.mergeChainSql("w", merges)}) AS es
       |  FROM t0),
       |enc AS (SELECT doc_id, source,
       |  list_transform(es,
       |    s -> replace(substring(s, 2, length(s) - 2), '||', ' ')) AS wps
       |  FROM enc0),
       |t AS (SELECT doc_id, source,
       |  list_filter(string_split(array_to_string(wps, ' '), ' '),
       |    x -> len(x) > 0) AS tk
       |  FROM enc),
       |${substrChainCtes(TokGramN)}
       |SELECT doc_id, n_words AS n_bpe, n_spans,
       |  rm_words AS rm_tokens, kept_words AS kept_tokens
       |FROM pdoc ORDER BY doc_id""".stripMargin

  /** CTE chain computing the signature relation `d` (doc_id, source, hs)
    * and the LSH candidate pairs `cand` (doc_a, doc_b) for n-gram size
    * `n` — the oracle twin of [[signatureTable]] + [[lshCandidates]]. */
  private def lshCandCte(n: Int): String =
    s"""t AS (SELECT doc_id, source, $TOKENS AS tk FROM documents),
       |${lshCandChain(n, "t", "")}""".stripMargin

  /** The lshCandCte chain minus its own `t`, with the source CTE and a
    * CTE-name prefix parameterized (the [[substrChainCtes]] composite
    * posture); the unprefixed form is byte-identical to the historical
    * text. */
  private[operators] def lshCandChain(n: Int, src: String, p: String): String =
    s"""${p}d0 AS (SELECT doc_id, source, ${shSql(n)} AS ss FROM $src),
       |${p}d AS (SELECT doc_id, source,
       |  list_distinct(list_transform(ss, x -> ${H60.format("x")})) AS hs FROM ${p}d0),
       |${p}e AS (SELECT doc_id, unnest(hs) AS h FROM ${p}d),
       |${p}perms(j, a, b) AS (VALUES ${(0 until NumPerms).map { j =>
           val (a, b) = perm(j); s"($j, $a, $b)" }.mkString(", ")}),
       |${p}mh AS (
       |  SELECT doc_id, j, MIN((a * (h % $MinhashP) + b) % $MinhashP) AS mh
       |  FROM ${p}e CROSS JOIN ${p}perms GROUP BY 1, 2),
       |${p}bands AS (
       |  SELECT doc_id, j // $RowsPerBand AS band,
       |    md5(string_agg(CAST(mh AS VARCHAR), ',' ORDER BY j)) AS bh
       |  FROM ${p}mh GROUP BY 1, 2),
       |${p}cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM ${p}bands a JOIN ${p}bands b
       |    ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id)""".stripMargin

  /** CTE chain computing the embedding near-dup pairs `edges` (va, vb)
    * — the oracle twin of [[corpusEmbedPairs]], shared by the three
    * semantic-dedup oracles (the [[lshCandCte]] pattern). */
  private def embedEdgesCte: String =
    s"""bk AS (
       |  SELECT vec_id, label, embedding,
       |    ${Similarity.bucketSql("embedding")} AS bucket
       |  FROM embeddings),
       |pr AS (
       |  SELECT vec_id, label, embedding,
       |    unnest(list_transform([${probeMasks(EmbedProbeDepth).mkString(", ")}],
       |      m -> xor(bucket, CAST(m AS BIGINT)))) AS probe
       |  FROM bk),
       |edges AS (
       |  SELECT a.vec_id AS va, b.vec_id AS vb,
       |    a.label AS label,
       |    ${cosSql("a.embedding", "b.embedding")} AS cos
       |  FROM pr a JOIN bk b
       |    ON a.probe = b.bucket AND a.label = b.label AND a.vec_id < b.vec_id
       |  WHERE ${cosSql("a.embedding", "b.embedding")} > 0.3)""".stripMargin

  /** The dd_cdc_chunks oracle: replay the LBFS chunker relationally —
    * per-character codepoints, the same polynomial rolling hash in
    * exact BIGINT mod-prime arithmetic (powers embedded as literals
    * from the SAME constants), boundary rule `h mod D == D-1`, chunk
    * substrings between consecutive boundaries (DuckDB substring/len
    * index by codepoint, matching the kernel's codepoint semantics). */
  /** CTE chain replaying the LBFS chunker to `chx(doc_id, chunk)` —
    * per-character codepoints, the same polynomial rolling hash in
    * exact BIGINT mod-prime arithmetic (powers embedded as literals
    * from the SAME constants), boundary rule `h mod D == D-1`, chunk
    * substrings between consecutive boundaries (DuckDB substring/len
    * index by codepoint, matching the kernel's codepoint semantics).
    * Shared by the dd_cdc_* oracles. */
  private def cdcChunkCtes: String = {
    import org.apache.spark.sql.graftexpr.TextExpressions.{CdcD, CdcM, CdcPw, CdcW}
    val pw = CdcPw.mkString("[", ", ", "]")
    s"""d AS (SELECT doc_id, text, len(text) AS n FROM documents),
       |cp AS (
       |  SELECT doc_id, text, n,
       |    list_transform(range(1, n + 1),
       |      i -> CAST(unicode(substring(text, CAST(i AS INT), 1)) AS BIGINT)) AS cs
       |  FROM d WHERE n > 0),
       |bs AS (
       |  SELECT doc_id, text, n,
       |    list_filter(range($CdcW, n + 1), i ->
       |      list_reduce(list_prepend(CAST(0 AS BIGINT),
       |        list_transform(range(0, $CdcW),
       |          t -> (cs[CAST(i - t AS INT)] * ($pw)[CAST(t + 1 AS INT)]) % $CdcM)),
       |        (a, b) -> a + b) % $CdcM % $CdcD = ${CdcD - 1}) AS bnd
       |  FROM cp),
       |chx AS (
       |  SELECT doc_id,
       |    unnest(list_filter(list_transform(range(1, len(bnd) + 2), j ->
       |      substring(text,
       |        CAST(CASE WHEN j = 1 THEN 1
       |             ELSE bnd[CAST(j - 1 AS INT)] + 1 END AS INT),
       |        CAST((CASE WHEN j <= len(bnd) THEN bnd[CAST(j AS INT)] ELSE n END)
       |           - (CASE WHEN j = 1 THEN 1
       |              ELSE bnd[CAST(j - 1 AS INT)] + 1 END) + 1 AS INT))),
       |      c -> len(c) > 0)) AS chunk
       |  FROM bs)""".stripMargin
  }

  private def cdcChunksOracle: String =
    s"""WITH $cdcChunkCtes
       |SELECT md5(chunk) AS ch, CAST(len(chunk) AS BIGINT) AS chunk_len,
       |  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
       |  CAST(COUNT(*) AS BIGINT) AS n_occ,
       |  MIN(doc_id) AS rep_doc
       |FROM chx GROUP BY 1, 2
       |HAVING COUNT(DISTINCT doc_id) >= 2
       |ORDER BY ch""".stripMargin

  private def cdcCoverageOracle: String =
    s"""WITH $cdcChunkCtes,
       |cc AS (SELECT doc_id, md5(chunk) AS ch,
       |         CAST(len(chunk) AS BIGINT) AS clen FROM chx),
       |sh AS (SELECT ch, COUNT(DISTINCT doc_id) AS nd FROM cc GROUP BY 1),
       |pd AS (SELECT cc.doc_id, CAST(COUNT(*) AS BIGINT) AS n_chunks,
       |         CAST(SUM(clen) AS BIGINT) AS n_cps,
       |         CAST(SUM(CASE WHEN sh.nd >= 2 THEN clen ELSE 0 END)
       |           AS BIGINT) AS shared_cps
       |       FROM cc JOIN sh USING (ch) GROUP BY 1)
       |SELECT dd.doc_id,
       |  CAST(COALESCE(pd.n_chunks, 0) AS BIGINT) AS n_chunks,
       |  CAST(COALESCE(pd.n_cps, 0) AS BIGINT) AS n_cps,
       |  CAST(COALESCE(pd.shared_cps, 0) AS BIGINT) AS shared_cps,
       |  CASE WHEN COALESCE(pd.n_cps, 0) > 0
       |    THEN CAST(pd.shared_cps AS DOUBLE) / CAST(pd.n_cps AS DOUBLE)
       |  END AS shared_frac
       |FROM documents dd LEFT JOIN pd ON dd.doc_id = pd.doc_id
       |ORDER BY dd.doc_id""".stripMargin

  /** Qualifying gate + star edges over the relational chunker — the
    * shared CTE chain of the dd_cdc_cluster / dd_cdc_keep_one
    * oracles (to `edges(va, vb)`, ready for [[ccCte]]). */
  private def cdcEdgeCtes: String =
    s"""$cdcChunkCtes,
       |cc0 AS (SELECT doc_id, md5(chunk) AS ch,
       |          CAST(len(chunk) AS BIGINT) AS clen FROM chx),
       |sh AS (SELECT ch, COUNT(DISTINCT doc_id) AS nd FROM cc0 GROUP BY 1),
       |pd AS (SELECT cc0.doc_id,
       |         CAST(SUM(clen) AS BIGINT) AS n_cps,
       |         CAST(SUM(CASE WHEN sh.nd >= 2 THEN clen ELSE 0 END)
       |           AS BIGINT) AS shared_cps
       |       FROM cc0 JOIN sh USING (ch) GROUP BY 1),
       |nodes AS (SELECT doc_id FROM pd
       |          WHERE n_cps > 0 AND shared_cps * 2 >= n_cps),
       |de AS (SELECT DISTINCT cc0.ch, cc0.doc_id
       |       FROM cc0 JOIN sh USING (ch) JOIN nodes USING (doc_id)
       |       WHERE sh.nd >= 2),
       |mn AS (SELECT ch, MIN(doc_id) AS mv FROM de GROUP BY 1),
       |edges AS (SELECT DISTINCT mn.mv AS va, de.doc_id AS vb
       |          FROM de JOIN mn USING (ch) WHERE de.doc_id != mn.mv)""".stripMargin

  /** The dd_cdc_cluster oracle: the same qualifying gate, star edges
    * and min-reachability components over the relational chunker. */
  private def cdcClusterOracle: String =
    s"""WITH RECURSIVE $cdcEdgeCtes,
       |$ccCte
       |SELECT cluster_id, COUNT(*) AS n_members FROM comp
       |GROUP BY 1 ORDER BY 1""".stripMargin

  private def cdcKeepOneOracle: String =
    s"""WITH RECURSIVE $cdcEdgeCtes,
       |$ccCte,
       |losers AS (SELECT v FROM comp WHERE v != cluster_id)
       |SELECT source, COUNT(*) AS n_kept FROM documents
       |WHERE doc_id NOT IN (SELECT v FROM losers)
       |GROUP BY source ORDER BY source""".stripMargin

  /** The minhash family's verified edges (va, vb) over `cand` + `d`
    * from [[lshCandCte]] — the oracle twin of the [[minhashLabels]]
    * edge derivation (jaccard >= 0.5). */
  private def verifiedEdgesCte: String =
    """edges AS (
      |  SELECT doc_a AS va, doc_b AS vb FROM cand
      |  JOIN d sa ON sa.doc_id = doc_a
      |  JOIN d sb ON sb.doc_id = doc_b
      |  WHERE CAST(len(list_intersect(sa.hs, sb.hs)) AS DOUBLE) /
      |    CAST(len(list_distinct(list_concat(sa.hs, sb.hs))) AS DOUBLE) >= 0.5)""".stripMargin

  /** The recursive min-reachability resolution of `edges` into `comp`
    * (v, cluster_id) — the oracle twin of [[connectedComponents]]. */
  private[graft] def ccCte: String =
    """eu AS (SELECT va AS s, vb AS t FROM edges
      |  UNION ALL SELECT vb, va FROM edges),
      |reach(v, w) AS (
      |  SELECT s, s FROM eu
      |  UNION
      |  SELECT r.v, e.t FROM reach r JOIN eu e ON e.s = r.w),
      |comp AS (SELECT v, MIN(w) AS cluster_id FROM reach GROUP BY v)""".stripMargin

  /** dot/cosine with the exact fold order of graft.functions.cosine. */
  private[operators] def dotSql(a: String, b: String): String =
    s"list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(range(1, len($a) + 1), i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE))), (x, y) -> x + y)"
  private[operators] def cosSql(a: String, b: String): String =
    s"(${dotSql(a, b)} / sqrt(${dotSql(a, a)} * ${dotSql(b, b)}))"

  /** The normalized-line relation + occurrence counts replayed
    * relationally (split on chr(10), trim, drop blanks, 0-based raw
    * index; keep-first = lexicographic-min (doc_id, line_no) struct) —
    * shared by the two line-dedup oracles. */
  private def lineCtes: String =
    """lines AS (
      |  SELECT doc_id, i - 1 AS line_no, md5(trim(ln)) AS lh,
      |    CAST(length(trim(ln)) AS BIGINT) AS llen
      |  FROM (
      |    SELECT doc_id, unnest(string_split(text, chr(10))) AS ln,
      |      generate_subscripts(string_split(text, chr(10)), 1) AS i
      |    FROM documents)
      |  WHERE length(trim(ln)) > 0),
      |occ AS (
      |  SELECT lh, COUNT(*) AS n_occ, COUNT(DISTINCT doc_id) AS n_docs,
      |    MIN(llen) AS llen, min({'d': doc_id, 'l': line_no}) AS keep
      |  FROM lines GROUP BY 1)""".stripMargin

  /** `def`, not `val`: the dd_substr_tok oracle embeds THIS run's
    * trained BPE merges and so exists only after a BPE face has
    * trained (the [[TextAnalysis.oracles]] contract — Verify runs
    * every query before dumping oracle_sql.json). */
  def oracles: Map[String, String] = staticOracles ++
    TextAnalysis.oracleMerges
      .map(m => Map("dd_substr_tok" -> substrTokSql(m)))
      .getOrElse(Map.empty)

  private val staticOracles: Map[String, String] = Map(
    "dd_line_dedup" ->
      s"""WITH $lineCtes,
         |per AS (
         |  SELECT l.doc_id, COUNT(*) AS n_lines, SUM(l.llen) AS n_cps,
         |    SUM(CASE WHEN o.n_occ >= 2 THEN 1 ELSE 0 END) AS n_dup_lines,
         |    SUM(CASE WHEN o.n_occ >= 2 AND NOT
         |          (o.keep.d = l.doc_id AND o.keep.l = l.line_no)
         |        THEN 1 ELSE 0 END) AS n_dropped,
         |    SUM(CASE WHEN o.n_occ >= 2 AND NOT
         |          (o.keep.d = l.doc_id AND o.keep.l = l.line_no)
         |        THEN l.llen ELSE 0 END) AS dropped_cps
         |  FROM lines l JOIN occ o ON o.lh = l.lh GROUP BY 1)
         |SELECT d.doc_id,
         |  CAST(COALESCE(p.n_lines, 0) AS BIGINT) AS n_lines,
         |  CAST(COALESCE(p.n_cps, 0) AS BIGINT) AS n_cps,
         |  CAST(COALESCE(p.n_dup_lines, 0) AS BIGINT) AS n_dup_lines,
         |  CAST(COALESCE(p.n_dropped, 0) AS BIGINT) AS n_dropped,
         |  CAST(COALESCE(p.dropped_cps, 0) AS BIGINT) AS dropped_cps
         |FROM documents d LEFT JOIN per p ON p.doc_id = d.doc_id
         |ORDER BY d.doc_id""".stripMargin,
    "dd_line_map" ->
      s"""WITH $lineCtes
         |SELECT lh, llen, CAST(n_occ AS BIGINT) AS n_occ,
         |  CAST(n_docs AS BIGINT) AS n_docs,
         |  keep.d AS keep_doc, keep.l AS keep_line
         |FROM occ WHERE n_occ >= 2 ORDER BY lh""".stripMargin,
    "dd_cdc_chunks" -> cdcChunksOracle,
    "dd_cdc_coverage" -> cdcCoverageOracle,
    "dd_cdc_cluster" -> cdcClusterOracle,
    "dd_cdc_keep_one" -> cdcKeepOneOracle,
    "dd_exact" ->
      """SELECT COUNT(*) AS n_docs, COUNT(DISTINCT md5(text)) AS n_distinct,
        |  COUNT(*) - COUNT(DISTINCT md5(text)) AS n_dupes
        |FROM documents""".stripMargin,
    "dd_bloom" ->
      s"""WITH $bloomCtes
         |SELECT source, n_grams, ${(0 until BloomWords).map(k => s"w$k").mkString(", ")},
         |  CAST(${popcountSql(k => s"w$k")} AS BIGINT) AS bits_set,
         |  CAST(CAST(${popcountSql(k => s"w$k")} AS BIGINT) AS DOUBLE)
         |    / CAST($BloomM AS DOUBLE) AS fill
         |FROM f ORDER BY source""".stripMargin,
    "dd_bloom_overlap" ->
      s"""WITH $bloomCtes
         |SELECT a.source AS src_a, b.source AS src_b,
         |  CAST(${popcountSql(k => s"a.w$k & b.w$k")} AS BIGINT) AS bits_common,
         |  CAST(${popcountSql(k => s"a.w$k | b.w$k")} AS BIGINT) AS bits_union,
         |  CASE WHEN CAST(${popcountSql(k => s"a.w$k | b.w$k")} AS BIGINT) > 0
         |    THEN CAST(CAST(${popcountSql(k => s"a.w$k & b.w$k")} AS BIGINT) AS DOUBLE)
         |      / CAST(CAST(${popcountSql(k => s"a.w$k | b.w$k")} AS BIGINT) AS DOUBLE)
         |  END AS j_bits
         |FROM f a JOIN f b ON a.source < b.source
         |ORDER BY 1, 2""".stripMargin,
    "dd_minhash_lsh" ->
      s"""WITH ${lshCandCte(3)}
         |SELECT doc_a, doc_b,
         |  CAST(len(list_intersect(sa.hs, sb.hs)) AS DOUBLE) /
         |  CAST(len(list_distinct(list_concat(sa.hs, sb.hs))) AS DOUBLE) AS jaccard
         |FROM cand
         |JOIN d sa ON sa.doc_id = doc_a
         |JOIN d sb ON sb.doc_id = doc_b
         |ORDER BY doc_a, doc_b""".stripMargin,
    // estimator audit: k-agreeing-components/16 vs the exact shingle
    // Jaccard — every number an exact small rational
    "dd_minhash_est" ->
      s"""WITH ${lshCandCte(3)},
         |ag AS (
         |  SELECT c.doc_a, c.doc_b,
         |    SUM(CASE WHEN a.mh = b.mh THEN 1 ELSE 0 END) AS na
         |  FROM cand c
         |  JOIN mh a ON a.doc_id = c.doc_a
         |  JOIN mh b ON b.doc_id = c.doc_b AND b.j = a.j
         |  GROUP BY 1, 2),
         |ex AS (
         |  SELECT doc_a, doc_b,
         |    CAST(len(list_intersect(sa.hs, sb.hs)) AS DOUBLE) /
         |    CAST(len(list_distinct(list_concat(sa.hs, sb.hs))) AS DOUBLE) AS jaccard
         |  FROM cand
         |  JOIN d sa ON sa.doc_id = doc_a
         |  JOIN d sb ON sb.doc_id = doc_b)
         |SELECT ag.doc_a, ag.doc_b,
         |  CAST(ag.na AS DOUBLE) / $NumPerms.0 AS est_jaccard,
         |  ex.jaccard,
         |  abs(CAST(ag.na AS DOUBLE) / $NumPerms.0 - ex.jaccard) AS abs_err
         |FROM ag JOIN ex ON ex.doc_a = ag.doc_a AND ex.doc_b = ag.doc_b
         |ORDER BY 1, 2""".stripMargin,
    // cross-source matrix over the verified (>= 0.5) pairs; counts only
    "dd_source_overlap" ->
      s"""WITH ${lshCandCte(3)},
         |vp AS (
         |  SELECT doc_a, doc_b,
         |    CAST(len(list_intersect(sa.hs, sb.hs)) AS DOUBLE) /
         |    CAST(len(list_distinct(list_concat(sa.hs, sb.hs))) AS DOUBLE) AS jaccard,
         |    sa.source AS source_a, sb.source AS source_b
         |  FROM cand
         |  JOIN d sa ON sa.doc_id = doc_a
         |  JOIN d sb ON sb.doc_id = doc_b)
         |SELECT least(source_a, source_b) AS src_a,
         |  greatest(source_a, source_b) AS src_b,
         |  COUNT(*) AS n_pairs,
         |  CAST(SUM(CASE WHEN jaccard >= 0.9 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_near_identical
         |FROM vp WHERE jaccard >= 0.5
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "dd_simhash" ->
      s"""WITH t AS (SELECT doc_id, list_distinct($TOKENS) AS tk FROM documents
         |  WHERE len(trim(text)) > 0),
         |e AS (SELECT doc_id, unnest(tk) AS tok FROM t),
         |hh AS (SELECT doc_id, ${H60.format("tok")} AS h FROM e),
         |sb AS (
         |  SELECT doc_id, b,
         |    SUM(CASE WHEN ((h >> CAST(b AS INT)) & 1) = 1 THEN 1 ELSE -1 END) AS sbit
         |  FROM hh CROSS JOIN (SELECT unnest(range($SimhashBits)) AS b) bb GROUP BY 1, 2),
         |sg AS (
         |  SELECT doc_id,
         |    CAST(SUM(CASE WHEN sbit > 0 THEN CAST(1 AS BIGINT) << CAST(b AS INT)
         |             ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS sig
         |  FROM sb GROUP BY 1),
         |bands AS (
         |  SELECT doc_id, sig, b AS band,
         |    (sig >> CAST($SimhashBandBits * b AS INT)) & ${(1L << SimhashBandBits) - 1} AS bv
         |  FROM sg CROSS JOIN (SELECT unnest(range($SimhashBands)) AS b) bb),
         |p AS (
         |  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db,
         |    CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) AS hamming
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id
         |  WHERE bit_count(xor(a.sig, b.sig)) <= $SimhashMaxHamming)
         |SELECT hamming, COUNT(*) AS n_pairs FROM p
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    // per-pair calibration for hamming >= 1 (hamming distance next to
    // the exact Jaccard over the same 60-bit token-hash sets); hamming-0
    // identity groups collapse to one representative pair (the two
    // smallest doc ids) with n_pairs = C(g,2) — the Spark side's
    // degenerate-corpus output bound, replayed here
    "dd_simhash_est" ->
      s"""WITH t AS (SELECT doc_id, list_distinct($TOKENS) AS tk FROM documents
         |  WHERE len(trim(text)) > 0),
         |hsr AS (SELECT doc_id,
         |  list_distinct(list_transform(tk, x -> ${H60.format("x")})) AS hs FROM t),
         |e AS (SELECT doc_id, unnest(tk) AS tok FROM t),
         |hh AS (SELECT doc_id, ${H60.format("tok")} AS h FROM e),
         |sb AS (
         |  SELECT doc_id, b,
         |    SUM(CASE WHEN ((h >> CAST(b AS INT)) & 1) = 1 THEN 1 ELSE -1 END) AS sbit
         |  FROM hh CROSS JOIN (SELECT unnest(range($SimhashBits)) AS b) bb GROUP BY 1, 2),
         |sg AS (
         |  SELECT doc_id,
         |    CAST(SUM(CASE WHEN sbit > 0 THEN CAST(1 AS BIGINT) << CAST(b AS INT)
         |             ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS sig
         |  FROM sb GROUP BY 1),
         |gr AS (SELECT sig, COUNT(*) AS g FROM sg GROUP BY 1),
         |bands AS (
         |  SELECT sig, b AS band,
         |    (sig >> CAST($SimhashBandBits * b AS INT)) & ${(1L << SimhashBandBits) - 1} AS bv
         |  FROM gr CROSS JOIN (SELECT unnest(range($SimhashBands)) AS b) bb),
         |sp AS (
         |  SELECT DISTINCT a.sig AS sa, b.sig AS sb2,
         |    CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) AS hamming
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.bv = b.bv AND a.sig < b.sig
         |  WHERE bit_count(xor(a.sig, b.sig)) BETWEEN 1 AND $SimhashMaxHamming),
         |crossp AS (
         |  SELECT least(x.doc_id, y.doc_id) AS doc_a,
         |    greatest(x.doc_id, y.doc_id) AS doc_b, sp.hamming,
         |    CAST(len(list_intersect(ja.hs, jb.hs)) AS DOUBLE) /
         |    CAST(len(list_distinct(list_concat(ja.hs, jb.hs))) AS DOUBLE) AS jaccard,
         |    CAST(1 AS BIGINT) AS n_pairs
         |  FROM sp
         |  JOIN sg x ON x.sig = sp.sa
         |  JOIN sg y ON y.sig = sp.sb2
         |  JOIN hsr ja ON ja.doc_id = x.doc_id
         |  JOIN hsr jb ON jb.doc_id = y.doc_id),
         |reps AS (
         |  SELECT sig, doc_id,
         |    row_number() OVER (PARTITION BY sig ORDER BY doc_id) AS rn
         |  FROM sg),
         |r2 AS (
         |  SELECT sig, MIN(doc_id) AS doc_a, MAX(doc_id) AS doc_b
         |  FROM reps WHERE rn <= 2 GROUP BY 1 HAVING COUNT(*) = 2),
         |zerop AS (
         |  SELECT r2.doc_a, r2.doc_b, CAST(0 AS BIGINT) AS hamming,
         |    CAST(len(list_intersect(ja.hs, jb.hs)) AS DOUBLE) /
         |    CAST(len(list_distinct(list_concat(ja.hs, jb.hs))) AS DOUBLE) AS jaccard,
         |    CAST((gr.g * (gr.g - 1)) // 2 AS BIGINT) AS n_pairs
         |  FROM r2
         |  JOIN gr ON gr.sig = r2.sig
         |  JOIN hsr ja ON ja.doc_id = r2.doc_a
         |  JOIN hsr jb ON jb.doc_id = r2.doc_b)
         |SELECT doc_a, doc_b, hamming, jaccard, n_pairs FROM crossp
         |UNION ALL
         |SELECT doc_a, doc_b, hamming, jaccard, n_pairs FROM zerop
         |ORDER BY 1, 2""".stripMargin,
    // duplicated-span fraction: per-doc share of distinct word 8-grams
    // seen in any other doc; counts are integers, the fraction an exact
    // small rational, NULL for sub-8-token docs — all cross-engine-safe
    "dd_span_frac" ->
      s"""WITH t AS (SELECT doc_id, $TOKENS AS tk FROM documents
         |  WHERE len(trim(text)) > 0),
         |d0 AS (SELECT doc_id, ${shSql(SpanGramN)} AS ss FROM t),
         |d AS (SELECT doc_id,
         |  list_distinct(list_transform(ss, x -> ${H60.format("x")})) AS hs FROM d0),
         |e AS (SELECT doc_id, unnest(hs) AS g FROM d),
         |gc AS (SELECT g, COUNT(*) AS n FROM e GROUP BY 1),
         |pd AS (
         |  SELECT doc_id, COUNT(*) AS n_grams,
         |    CAST(SUM(CASE WHEN n >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup
         |  FROM e JOIN gc USING (g) GROUP BY 1)
         |SELECT d.doc_id,
         |  coalesce(pd.n_grams, 0) AS n_grams,
         |  coalesce(pd.n_dup, 0) AS n_dup,
         |  CASE WHEN coalesce(pd.n_grams, 0) > 0
         |    THEN CAST(pd.n_dup AS DOUBLE) / CAST(pd.n_grams AS DOUBLE)
         |  END AS dup_frac
         |FROM d LEFT JOIN pd USING (doc_id)
         |ORDER BY doc_id""".stripMargin,
    // ExactSubstr removal accounting, replayed relationally
    "dd_substr_remove" ->
      s"""WITH $substrCtes
         |SELECT doc_id, n_words, n_spans, rm_words, kept_words
         |FROM pdoc ORDER BY doc_id""".stripMargin,
    "dd_substr_spans" ->
      s"""WITH $substrCtes
         |SELECT doc_id, CAST(s AS BIGINT) AS s, CAST(e AS BIGINT) AS e
         |FROM spans ORDER BY doc_id, s""".stripMargin,
    // the sliced surviving corpus: tokens outside every removed span,
    // rejoined with single spaces in original order (the canonical
    // whitespace-tokenization form both engines reconstruct)
    "dd_substr_keep" ->
      s"""WITH $substrCtes,
         |tok AS (SELECT doc_id, unnest(tk) AS w,
         |  unnest(range(len(tk))) AS i FROM t),
         |kept AS (
         |  SELECT tk.doc_id, tk.i, tk.w FROM tok tk
         |  WHERE NOT EXISTS (SELECT 1 FROM spans sp
         |    WHERE sp.doc_id = tk.doc_id AND tk.i >= sp.s AND tk.i < sp.e)),
         |ka AS (SELECT doc_id, COUNT(*) AS n_kept_words,
         |  string_agg(w, ' ' ORDER BY i) AS kept_text
         |  FROM kept GROUP BY 1)
         |SELECT d.doc_id,
         |  CAST(COALESCE(ka.n_kept_words, 0) AS BIGINT) AS n_kept_words,
         |  COALESCE(ka.kept_text, '') AS kept_text,
         |  md5(COALESCE(ka.kept_text, '')) AS kept_md5
         |FROM d LEFT JOIN ka USING (doc_id)
         |ORDER BY doc_id""".stripMargin,
    "dd_substr_volume" ->
      s"""WITH $substrCtes
         |SELECT source, COUNT(*) AS n_docs,
         |  CAST(SUM(CASE WHEN rm_words > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_cut,
         |  CAST(SUM(n_words) AS BIGINT) AS total_words,
         |  CAST(SUM(rm_words) AS BIGINT) AS rm_words,
         |  CAST(SUM(kept_words) AS BIGINT) AS kept_words
         |FROM pdoc GROUP BY 1 ORDER BY 1""".stripMargin,
    "dd_ngram_jaccard" ->
      s"""WITH ${lshCandCte(3)},
         |p AS (
         |  SELECT sa.source AS source,
         |    CAST(len(list_intersect(sa.hs, sb.hs)) AS DOUBLE) /
         |    CAST(len(list_distinct(list_concat(sa.hs, sb.hs))) AS DOUBLE) AS jac
         |  FROM cand
         |  JOIN d sa ON sa.doc_id = doc_a
         |  JOIN d sb ON sb.doc_id = doc_b)
         |SELECT source, COUNT(*) AS n_pairs,
         |  CAST(SUM(CASE WHEN jac >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_close,
         |  MAX(jac) AS max_jac
         |FROM p GROUP BY 1 ORDER BY 1""".stripMargin,
    "dd_embed_near" ->
      s"""WITH $embedEdgesCte
         |SELECT label, va AS vec_a, vb AS vec_b, cos
         |FROM edges ORDER BY label, vec_a, vec_b""".stripMargin,
    // the embedding near-dup pair graph resolved by the same recursive
    // reachability as dd_cluster, keyed by vec ids
    "dd_embed_cluster" ->
      s"""WITH RECURSIVE $embedEdgesCte,
         |$ccCte
         |SELECT cluster_id, COUNT(*) AS n_members FROM comp
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    // the embed-cluster reachability with dd_keep_one's terminal step
    "dd_semantic_keep_one" ->
      s"""WITH RECURSIVE $embedEdgesCte,
         |$ccCte,
         |losers AS (SELECT v FROM comp WHERE v != cluster_id)
         |SELECT label, COUNT(*) AS n_kept FROM embeddings
         |WHERE vec_id NOT IN (SELECT v FROM losers)
         |GROUP BY label ORDER BY label""".stripMargin,
    "dd_cluster" ->
      s"""WITH RECURSIVE ${lshCandCte(3)},
         |$verifiedEdgesCte,
         |$ccCte
         |SELECT cluster_id, COUNT(*) AS n_members FROM comp
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "dd_keep_one" ->
      s"""WITH RECURSIVE ${lshCandCte(3)},
         |$verifiedEdgesCte,
         |$ccCte,
         |losers AS (SELECT v FROM comp WHERE v != cluster_id)
         |SELECT source, COUNT(*) AS n_kept FROM documents
         |WHERE doc_id NOT IN (SELECT v FROM losers)
         |GROUP BY source ORDER BY source""".stripMargin,
  )

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dd_exact" -> (ddExact _),
    "dd_bloom" -> (ddBloom _),
    "dd_bloom_overlap" -> (ddBloomOverlap _),
    "dd_minhash_lsh" -> (ddMinhashLsh _),
    "dd_minhash_est" -> (ddMinhashEst _),
    "dd_source_overlap" -> (ddSourceOverlap _),
    "dd_simhash" -> (ddSimhash _),
    "dd_simhash_est" -> (ddSimhashEst _),
    "dd_ngram_jaccard" -> (ddNgramJaccard _),
    "dd_span_frac" -> (ddSpanFrac _),
    "dd_substr_remove" -> (ddSubstrRemove _),
    "dd_substr_spans" -> (ddSubstrSpans _),
    "dd_substr_keep" -> (ddSubstrKeep _),
    "dd_substr_tok" -> (ddSubstrTok _),
    "dd_substr_volume" -> (ddSubstrVolume _),
    "dd_cdc_chunks" -> (ddCdcChunks _),
    "dd_cdc_coverage" -> (ddCdcCoverage _),
    "dd_cdc_cluster" -> (ddCdcCluster _),
    "dd_cdc_keep_one" -> (ddCdcKeepOne _),
    "dd_embed_near" -> (ddEmbedNear _),
    "dd_embed_cluster" -> (ddEmbedCluster _),
    "dd_semantic_keep_one" -> (ddSemanticKeepOne _),
    "dd_cluster" -> (ddCluster _),
    "dd_keep_one" -> (ddKeepOne _),
    "dd_line_dedup" -> (ddLineDedup _),
    "dd_line_map" -> (ddLineMap _),
  )
}
