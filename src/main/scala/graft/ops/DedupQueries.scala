package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

import graft.dedup.Dedup._
import graft.ops.Checkpoints.LineageCut
import graft.similarity.Vectors

/** Declared deduplication queries over `documents` / `embeddings`
  * (north-star extension block; the reference's only dedup is
  * `dropDuplicates` on one key, `/root/reference/etl_process.py:213` —
  * covered by `dedup_deterministic` in EtlQueries).
  *
  * Each query is a complete sub-quadratic near-dup pipeline: candidate
  * generation (LSH bands / prefix filter / simhash blocks / label
  * blocking) is a narrow equi-join on a small derived key, and only the
  * candidate pairs pay the exact-verification cost. That is the property
  * that survives a 100 TB corpus — the O(n²) cross product never
  * materializes; the DuckDB oracles replicate the same algorithm (the
  * simhash oracle skips the lossless blocking and brute-forces, which is
  * equivalent at sf0.01 oracle scale).
  */
object DedupQueries {

  private val J = 0.8 // Jaccard threshold shared by minhash + prefix join

  /** Exact dedup: content-hash grouping with deterministic min-id
    * survivor (the exact-hash flavor; group sizes are 1 on the synthetic
    * corpus, which the count column makes observable). */
  def dedupExactText(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .groupBy(md5(col("text")).as("fp"))
      .agg(min("doc_id").as("survivor_id"), count(lit(1)).as("n_copies"))
      .orderBy("fp")

  /** Shared per-doc token-hash base, persisted through [[PipelineCache]]
    * (keyed per sf dir; Bench/Verify release after each query): minhash,
    * prefix AND simhash all derive from the same (n, th) columns with
    * integer arithmetic, so the md5 tokenization cost is paid exactly
    * once across all three pipelines. The persist also stops the
    * downstream self-joins from recomputing the scan on both branches. */
  private def hashedBase(s: SparkSession, d: String): DataFrame =
    PipelineCache.getOrPersist(s"dedup:hashedBase:$d")(Tables.documents(s, d)
      .select(col("doc_id"), graft.text.TextAnalysis.tokens(col("text")).as("tok"))
      .select(col("doc_id"), size(col("tok")).as("n"), tokenHashes(col("tok")).as("th")))

  private def shingled(s: SparkSession, d: String): DataFrame =
    PipelineCache.getOrPersist(s"dedup:shingled:$d")(hashedBase(s, d)
      .select(col("doc_id"), shingleHashes(col("th")).as("sh"))
      .filter(size(col("sh")) > 0))

  /** Exact-verify step shared by minhash + prefix pipelines: join the
    * candidate (a_id, b_id) pairs back to their shingle sets, compute
    * true Jaccard, keep ≥ threshold. */
  private def verifyPairs(cand: DataFrame, base: DataFrame): DataFrame =
    cand
      .join(base.select(col("doc_id").as("a_id"), col("sh").as("sha")), "a_id")
      .join(base.select(col("doc_id").as("b_id"), col("sh").as("shb")), "b_id")
      .select(col("a_id"), col("b_id"), jaccard(col("sha"), col("shb")).as("jaccard"))
      .filter(col("jaccard") >= J)
      .orderBy("a_id", "b_id")

  /** Persisted 8-hash minhash signature per doc. Persist the signature,
    * not the bands: the band keys reference `sig` twice each, and the
    * cache boundary stops CollapseProject from inlining the signature
    * expression 8× into the explode. */
  private def minhashSig(s: SparkSession, d: String): DataFrame =
    PipelineCache.getOrPersist(s"dedup:minhashSig:$d")(
      shingled(s, d).select(col("doc_id"), minhashSignature(col("sh"), 8).as("sig")))

  /** LSH band-bucket candidate pairs (4 bands × 2 rows), shared by the
    * verified near-dup query and the sketch-accuracy query. */
  /** (doc_id, band, bkey) rows of the 4-band × 2-row LSH banding over
    * the shared signature base — the ONE definition of the banding
    * scheme, consumed by both the candidate join and the occupancy
    * report (changing the scheme in one place keeps them describing the
    * same banding). */
  private def minhashBands(s: SparkSession, d: String): DataFrame =
    minhashSig(s, d).select(col("doc_id"),
      posexplode(array(bandKeys(col("sig"), 4, 2): _*)).as(Seq("band", "bkey")))
      // long band index: the oracle's range(0,4) is BIGINT
      .withColumn("band", col("band").cast("long"))

  private def lshCandidates(s: SparkSession, d: String): DataFrame = {
    val bands = minhashBands(s, d)
    bands.as("a")
      .join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .distinct()
  }

  /** LSH BAND OCCUPANCY REPORT — the ops dashboard behind
    * [[dedupMinhashLsh]]: per band, bucket count, max bucket size,
    * colliding buckets, and the candidate-pair budget Σ k·(k−1)/2 the
    * band contributes. This is the number an operator watches to catch
    * a degenerate band (one mega-bucket → quadratic candidate blowup)
    * BEFORE the candidate join pays for it — the skew pre-check of the
    * LSH family. Pure integer arithmetic over the shared signature
    * base; two partial-aggregated keyed shuffles. */
  def dedupMinhashBandStats(s: SparkSession, d: String): DataFrame =
    minhashBands(s, d).groupBy("band", "bkey").agg(count(lit(1)).as("k"))
      .withColumn("pairs", expr("k * (k - 1) DIV 2"))
      .groupBy("band")
      .agg(count(lit(1)).as("n_buckets"),
        sum(col("k")).as("n_docs"),
        max(col("k")).as("max_bucket"),
        sum(when(col("k") > 1, 1L).otherwise(0L)).as("n_colliding_buckets"),
        sum(col("pairs")).as("n_cand_pairs"))
      .orderBy("band")

  /** CANDIDATE-JACCARD HISTOGRAM — the threshold-picking view of the
    * LSH candidate set (what [[dedupThresholdSweep]] summarizes as
    * pair counts, laid out as the 0.05-bucket distribution a curator
    * eyeballs to place the dedup cutoff): every LSH candidate pair's
    * EXACT Jaccard, bucketed by floor(J·20). The bucket boundary
    * arithmetic is the same IEEE double on identical rational
    * operands in both engines, so bucket membership cannot straddle.
    * Reuses the persisted candidate/shingle bases. */
  def dedupJaccardHistogram(s: SparkSession, d: String): DataFrame = {
    val base = shingled(s, d)
    lshCandidates(s, d)
      .join(base.select(col("doc_id").as("a_id"), col("sh").as("sha")), "a_id")
      .join(base.select(col("doc_id").as("b_id"), col("sh").as("shb")), "b_id")
      .select(floor(jaccard(col("sha"), col("shb")) * 20.0).cast("long")
        .as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("n_pairs"))
      .orderBy("bucket")
  }

  /** MinHash + LSH banding: 8 md5-minhashes, 4 bands × 2 rows; docs
    * sharing a band key are candidates; exact Jaccard ≥ 0.8 verified on
    * candidates only. */
  def dedupMinhashLsh(s: SparkSession, d: String): DataFrame =
    verifyPairs(lshCandidates(s, d), shingled(s, d))

  /** EDIT-DISTANCE CONFIRMATION of the verified near-dup pairs —
    * Levenshtein distance and its normalized similarity
    * (1 − d/max_len) for every [[dedupMinhashLsh]] survivor: the
    * character-level second opinion a curator reads before trusting a
    * shingle-level verdict (high Jaccard + low edit similarity =
    * shuffled-paragraph duplication, a different removal decision than
    * a true near-copy). Both engines run the textbook
    * insert/delete/substitute DP via their `levenshtein` builtin —
    * integer output, no FP anywhere in the distance. CAVEAT: Spark
    * counts CHARACTERS, DuckDB counts BYTES — identical on this
    * all-ASCII corpus (asserted in spec); Unicode text needs a
    * byte-normalized restatement.
    *
    * Scale posture: the O(len²) DP runs ONLY on pairs that already
    * passed the Jaccard ≥ 0.8 gate — a set bounded by true duplicate
    * density, not corpus size (the expression is referenced twice in
    * the projection, so the DP runs twice per surviving pair — bounded
    * by the same density; a checkpoint barrier would cost more). */
  def dedupEditdistVerify(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val ed = levenshtein(col("ta"), col("tb")).cast("long")
    val ml = greatest(length(col("ta")), length(col("tb"))).cast("long")
    verifyPairs(lshCandidates(s, d), shingled(s, d))
      .join(docs.select(col("doc_id").as("a_id"), col("text").as("ta")), "a_id")
      .join(docs.select(col("doc_id").as("b_id"), col("text").as("tb")), "b_id")
      .select(col("a_id"), col("b_id"), ed.as("edit_distance"),
        ml.as("max_len"),
        round(lit(1.0) - ed.cast("double") / ml.cast("double"), 9)
          .as("edit_similarity"))
      .orderBy("a_id", "b_id")
  }

  /** Sketch-accuracy measurement: for every LSH candidate pair, the
    * minhash Jaccard ESTIMATE (matching signature slots / k) next to the
    * exact shingle Jaccard and the absolute error — the query an engine
    * operator runs to size k before trusting the sketch at corpus scale
    * (E[est] = J, σ = √(J(1−J)/k), so k=8 is a coarse screen: observed
    * errors up to ~0.35 on true-J≈0.8 pairs are in-distribution).
    * Everything after the candidate join touches only candidate pairs —
    * the signature and shingle frames are both already persisted, and
    * est/err are exact small-rational doubles in both engines. */
  def dedupMinhashError(s: SparkSession, d: String): DataFrame = {
    val sig = minhashSig(s, d)
    val base = shingled(s, d)
    lshCandidates(s, d)
      .join(sig.select(col("doc_id").as("a_id"), col("sig").as("siga")), "a_id")
      .join(sig.select(col("doc_id").as("b_id"), col("sig").as("sigb")), "b_id")
      .join(base.select(col("doc_id").as("a_id"), col("sh").as("sha")), "a_id")
      .join(base.select(col("doc_id").as("b_id"), col("sh").as("shb")), "b_id")
      .select(col("a_id"), col("b_id"),
        (size(filter(zip_with(col("siga"), col("sigb"), (x, y) => x === y),
          m => m)).cast("double") / 8.0).as("est_jaccard"),
        jaccard(col("sha"), col("shb")).as("jaccard"))
      .withColumn("abs_err", abs(col("est_jaccard") - col("jaccard")))
      .orderBy("a_id", "b_id")
  }

  /** PPJoin-style exact similarity join: explode each doc's
    * ⌊0.2·|sh|⌋+1 smallest shingles, equi-join on the shingle, verify.
    * Full recall at threshold 0.8 by the prefix-filter theorem — returns
    * the same pairs as the LSH query when LSH recall is complete.
    *
    * Candidate pruning (both lossless, both exact INTEGER arithmetic for
    * J = 0.8 = 4/5 — no FP rounding can cost recall):
    *  - LENGTH filter: J ≥ t ⇒ min(|A|,|B|) ≥ t·max(|A|,|B|), i.e.
    *    5·|A| ≥ 4·|B| and 5·|B| ≥ 4·|A|;
    *  - POSITIONAL filter: a prefix element shared at sorted positions
    *    (i, j) bounds the overlap by 1 + min(|A|−i−1, |B|−j−1); J ≥ t
    *    needs overlap ≥ ⌈t·(|A|+|B|)/(1+t)⌉ = (4·(|A|+|B|)+8) div 9.
    *    Lossless under join-then-distinct: for a truly similar pair, its
    *    FIRST prefix-shared element has no common element before it (a
    *    smaller common element would itself be in both prefixes), so
    *    that match row passes and the pair survives the distinct.
    * The round-3 measured effect: candidate pairs 218k → the verified
    * few hundred's neighborhood, shrinking the two verify joins. */
  def dedupPrefixJaccard(s: SparkSession, d: String): DataFrame = {
    val base = shingled(s, d)
    val pref = PipelineCache.getOrPersist(s"dedup:prefix:$d")(
      base.select(col("doc_id"), size(col("sh")).as("n"),
        posexplode(prefixShingles(col("sh"), J)).as(Seq("pos", "p"))))
    val requiredOverlap = // ceil(4·(na+nb)/9) in exact integer arithmetic
      floor(((col("a.n") + col("b.n")) * 4 + 8) / 9)
    val cand = pref.as("a")
      .join(pref.as("b"),
        col("a.p") === col("b.p") && col("a.doc_id") < col("b.doc_id") &&
          col("a.n") * 5 >= col("b.n") * 4 && col("b.n") * 5 >= col("a.n") * 4 &&
          lit(1) + least(col("a.n") - col("a.pos") - 1,
            col("b.n") - col("b.pos") - 1) >= requiredOverlap)
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .distinct()
    verifyPairs(cand, base)
  }

  /** THRESHOLD CALIBRATION SWEEP — the measurement a team runs BEFORE
    * committing a near-dup policy: one candidate generation at the
    * loosest threshold of interest (τ=0.7 prefix filter — complete for
    * every τ ≥ 0.7 by the prefix theorem), ONE exact-Jaccard pass, and
    * conditional counts at 0.7/0.8/0.9 — the pair-volume curve that
    * decides where to set the production threshold. All three counts
    * come from the same verified scores; no re-scan per threshold.
    * Length (10·min ≥ 7·max) and positional filters are applied at
    * τ=0.7 — lossless there, and the ORACLE replicates them exactly
    * because `n_candidates` counts the filtered set itself.
    *
    * Scale posture: identical to [[dedupPrefixJaccard]] with a looser
    * prefix (0.3·|sh|+1 elements) — candidate volume grows but stays
    * prefix-bounded; the output is ONE row. */
  def dedupThresholdSweep(s: SparkSession, d: String): DataFrame = {
    val base = shingled(s, d)
    val pref = base.select(col("doc_id"), size(col("sh")).as("n"),
      posexplode(prefixShingles(col("sh"), 0.7)).as(Seq("pos", "p")))
    val requiredOverlap = // ceil(0.7·(na+nb)/1.7) = ceil(7(na+nb)/17)
      floor(((col("a.n") + col("b.n")) * 7 + 16) / 17)
    val cand = pref.as("a")
      .join(pref.as("b"),
        col("a.p") === col("b.p") && col("a.doc_id") < col("b.doc_id") &&
          col("a.n") * 10 >= col("b.n") * 7 &&
          col("b.n") * 10 >= col("a.n") * 7 &&
          lit(1) + least(col("a.n") - col("a.pos") - 1,
            col("b.n") - col("b.pos") - 1) >= requiredOverlap)
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .distinct()
    cand
      .join(base.select(col("doc_id").as("a_id"), col("sh").as("sha")), "a_id")
      .join(base.select(col("doc_id").as("b_id"), col("sh").as("shb")), "b_id")
      .select(jaccard(col("sha"), col("shb")).as("j"))
      .agg(count(lit(1)).as("n_candidates"),
        sum(when(col("j") >= 0.7, 1L).otherwise(0L)).as("n_ge_070"),
        sum(when(col("j") >= 0.8, 1L).otherwise(0L)).as("n_ge_080"),
        sum(when(col("j") >= 0.9, 1L).otherwise(0L)).as("n_ge_090"))
  }

  /** 32-bit SimHash near-dup candidates at Hamming ≤ 2. Blocking: the
    * simhash split into 4 bytes — any pair within Hamming ≤ 3 shares at
    * least one byte (pigeonhole), so the 4 block-joins are lossless for
    * the ≤ 2 output. */
  def dedupSimhash(s: SparkSession, d: String): DataFrame = {
    val sim = hashedBase(s, d)
      .filter(col("n") > 0)
      .select(col("doc_id"), simhash32(col("th"), col("n")).as("sim"))
    val blocks = PipelineCache.getOrPersist(s"dedup:simhashBlocks:$d")(
      sim.select(col("doc_id"), col("sim"),
        posexplode(array((0 until 4).map(k =>
          shiftright(col("sim"), 8 * k).bitwiseAND(lit(255L))): _*)).as(Seq("blk", "bval"))))
    blocks.as("a")
      .join(blocks.as("b"),
        col("a.blk") === col("b.blk") && col("a.bval") === col("b.bval") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
        hamming(col("a.sim"), col("b.sim")).as("hamming"))
      .distinct()
      .filter(col("hamming") <= 2)
      .orderBy("a_id", "b_id")
  }

  /** Floor for the runtime cell sizing below: even a tiny corpus keeps a
    * few cells so the plan shape (replicate → compound-key equi-join)
    * never degenerates to a special case, and the sf0.01 driver-gate
    * plan is byte-identical to what shipped when this was the fixed
    * default. */
  private[graft] val EmbedCellsFloor = 4L

  /** Target rows per triangle cell. One join task holds TWO cells
    * (a cell-pair), so its exact-verification bound is (2·target)² / 2
    * ≈ 8.4M dot products — a seconds-scale, comfortably-in-memory task
    * (2·2048 rows × ~300 B ≈ 1.2 MB; the quadratic COMPUTE term, not
    * memory, is what the target bounds). Smaller targets buy balance at
    * the price of replication volume (m× rows shuffled), so the target
    * sits where per-task compute ≈ task-scheduling granularity. */
  private[graft] val EmbedCellTargetRows = 2048L

  /** SIZING RULE for the embedding self-join's sub-cells per label:
    * m(label) = max(floor, ⌈label row count / target cell rows⌉) — the
    * per-task bound O(2·label/m)² then stays ≈ O(2·target)² at every
    * corpus scale instead of growing quadratically in the hottest
    * label. The PAIR SET is invariant in m (the cell-pair cover is
    * exhaustive for any m ≥ 1, per label — pinned by spec), so this
    * arithmetic never moves an answer; it only trades replication
    * volume (m× shuffle) against straggler size. This driver-side form
    * exists so the spec can pin the plan's runtime `m` to the label
    * histogram; [[embedCellFrame]] is the identical arithmetic as a
    * per-label frame. */
  private[graft] def embedCellCount(maxLabelRows: Long): Long =
    math.max(EmbedCellsFloor,
      math.ceil(maxLabelRows.toDouble / EmbedCellTargetRows).toLong)

  /** [[embedCellCount]] over the actual corpus, PER LABEL, as a
    * DISTRIBUTED aggregate (the `sim_knn_batch_ivf` pattern): a cheap
    * `groupBy(label).count()` pre-pass — one narrow shuffle of
    * (label, count) pairs — broadcast-joined into the replication step
    * on `label`, no driver collect. Per-label m (round 13; round 12
    * shipped one global m sized by the hottest label) matters exactly
    * on a SKEWED histogram: the cell-pair cover proof is per-label
    * (both rows of a pair share a label, hence the same m), so rows of
    * different labels may replicate differently — a 1M-row hot label
    * gets m = 489 while a 300-row label keeps the floor 4, instead of
    * the hot label's m over-replicating every small label m× for no
    * task-bound benefit. On this corpus's near-uniform 10-label
    * histogram the two forms coincide; the pair set is invariant in m
    * either way (spec-pinned). */
  private[graft] def embedCellFrame(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types.LongType
    Tables.embeddings(s, d).groupBy(col("label")).count()
      .select(col("label"), greatest(lit(EmbedCellsFloor),
        ceil(col("count").cast(DoubleType) / lit(EmbedCellTargetRows.toDouble))
          .cast(LongType)).as("m"))
  }

  /** Triangle-cell replication given a base frame carrying an `m`
    * column (a literal in the spec's parameterized form, the broadcast
    * runtime derivation in the shipped query): each row gets cell
    * c = vec_id mod m and is replicated to the m unordered cell-pairs
    * it can meet a partner in. */
  private[graft] def embedReplicate(base: DataFrame): DataFrame =
    base
      .select(col("vec_id"), col("label"), col("embedding"),
        Vectors.normSq(col("embedding")).as("nsq"), // norm once per row
        pmod(col("vec_id"), col("m")).as("cell"), col("m"))
      .select(col("*"), explode(sequence(lit(0L), col("m") - lit(1L))).as("other"))
      .select(col("vec_id"), col("label"), col("embedding"), col("nsq"), col("cell"),
        least(col("cell"), col("other")).as("lo"),
        greatest(col("cell"), col("other")).as("hi"))

  /** Exact-pair verification over a replicated base: compound-key
    * equi-join on (label, lo, hi); the `least/greatest` guard keeps each
    * pair in exactly one cell-pair, so the output is identical to the
    * naive within-label self-join for any m. */
  private[graft] def embedPairs(rep: DataFrame): DataFrame =
    rep.as("a")
      .join(rep.as("b"),
        col("a.label") === col("b.label") &&
          col("a.lo") === col("b.lo") && col("a.hi") === col("b.hi") &&
          col("a.vec_id") < col("b.vec_id") &&
          least(col("a.cell"), col("b.cell")) === col("a.lo") &&
          greatest(col("a.cell"), col("b.cell")) === col("a.hi"))
      .select(col("a.vec_id").as("a_id"), col("b.vec_id").as("b_id"),
        col("a.label").as("label"),
        (Vectors.dot(col("a.embedding"), col("b.embedding")) /
          sqrt(col("a.nsq") * col("b.nsq"))).as("cos"))
      .filter(col("cos") >= 0.35)
      .orderBy("a_id", "b_id")

  /** Embedding near-dup: within-label (IVF-coarse-bucket pattern)
    * cosine ≥ 0.35 pairs. The label join stands in for a coarse
    * quantizer: at 100 TB the same plan holds with k-means cell ids.
    *
    * BOUNDED SKEW (round-2 verdict defect #3): a bare within-label
    * self-join is O(n²) in the hottest label — one straggler task owns
    * the whole label. Triangle cell partitioning makes every task
    * bounded while keeping the EXACT pair set: each row gets a
    * deterministic sub-cell c = vec_id mod m (uniformity, not locality,
    * is what bounds the cell — any deterministic assignment is correct
    * because the cell-pair cover below is exhaustive), and is replicated
    * to the m unordered cell-pairs {(min(c,r), max(c,r)) : r < m} it can
    * meet a partner in. The join key is the COMPOUND (label, lo, hi);
    * the `least/greatest` guard keeps each pair in exactly one cell-pair
    * (its own (min(ca,cb), max(ca,cb))), so output rows are identical to
    * the naive join (oracle unchanged) but the biggest join task shrinks
    * from O(hottest label)² to O(2·label/m)². Replication cost: m× rows
    * shuffled — the classic skew-vs-volume trade. m is derived AT
    * RUNTIME from the corpus's own label histogram ([[embedCellFrame]];
    * round-12 — previously a fixed 4, which left the per-task bound
    * quadratic in the hottest label's growth): sf0.01's ~250-row labels
    * still get the floor 4, a label of 1M rows gets m = 489, and the
    * straggler task stays ≈ (2·[[EmbedCellTargetRows]])² work at every
    * scale. */
  def dedupEmbeddingCosine(s: SparkSession, d: String): DataFrame = {
    val rep = PipelineCache.getOrPersist(s"dedup:embCellsRt:$d")(
      embedReplicate(
        Tables.embeddings(s, d).join(broadcast(embedCellFrame(s, d)), "label")))
    embedPairs(rep)
  }

  /** [[dedupEmbeddingCosine]] with the cell count as an explicit
    * parameter (see [[embedCellCount]] for the runtime sizing rule this
    * bypasses). Output is identical for every m ≥ 1; only the
    * shuffle/task-bound trade moves — the spec pins that invariance,
    * which is what lets the runtime derivation move m freely without
    * touching the oracle. */
  private[graft] def dedupEmbeddingCosineCells(
      s: SparkSession, d: String, m: Int): DataFrame = {
    require(m >= 1, s"cell count must be >= 1, got $m")
    val rep = PipelineCache.getOrPersist(s"dedup:embCells:$d:$m")(
      embedReplicate(Tables.embeddings(s, d).withColumn("m", lit(m.toLong))))
    embedPairs(rep)
  }

  /** Connected-components-lite over the verified near-dup graph: every
    * doc in a minhash-verified pair gets a cluster label via BOUNDED
    * min-label propagation (2 rounds). This is the canonical "pick one
    * survivor per duplicate CLUSTER" step a training-data pipeline runs
    * after pair finding — pairs alone under-dedup transitive groups
    * (A~B, B~C but A≁C).
    *
    * Scale posture: each round is ONE shuffle (join labels to edges +
    * min-aggregate) — the standard large-graph CC recipe (label
    * propagation / hash-to-min) where a production run loops rounds to
    * convergence with an AQE-sized shuffle per round. The round count
    * is FIXED here (2 = graph diameter the fixture exhibits) because
    * the semantics must be expressible as a deterministic oracle;
    * looping the same `propagate` to fixpoint is the unbounded variant
    * (each extra round = same plan re-applied). */
  def dedupClusterLabels(s: SparkSession, d: String): DataFrame = {
    val pairs = PipelineCache.getOrPersist(s"dedup:verifiedPairs:$d")(
      dedupMinhashLsh(s, d).select(col("a_id"), col("b_id")))
    val edges = pairs.union(
      pairs.select(col("b_id").as("a_id"), col("a_id").as("b_id")))
    // localCheckpoint between rounds: each propagate references its
    // input TWICE (join + union branch), so un-truncated lineage
    // doubles per round and driver planning goes exponential — see
    // ccConvergedWithStats' scaladoc for the measurement
    val labels0 = edges.select(col("a_id").as("id")).distinct()
      .select(col("id"), col("id").as("lbl"))
      .cutLineage()
    // one propagation round = ONE join, not two: a node's next label is
    // min(own, neighbors'), and "own" rides in through the union branch
    // instead of a second self-join of the label frame — per round this
    // drops one full exchange of the label frame vs the textbook
    // labels⋈edges⋈labels form (identical fixpoint and per-round values)
    def propagate(lbl: DataFrame): DataFrame =
      edges.join(lbl, col("b_id") === col("id"))
        .select(col("a_id").as("id"), col("lbl"))
        .union(lbl)
        .groupBy("id").agg(min(col("lbl")).as("lbl"))
    propagate(propagate(labels0).cutLineage())
      .select(col("id").as("doc_id"), col("lbl").as("cluster"))
      .orderBy("doc_id")
  }

  /** Connected components to CONVERGENCE — the unbounded variant of
    * [[dedupClusterLabels]]: min-label propagation looped until no label
    * changes (true transitive closure, whatever the graph diameter),
    * not a fixed 2 rounds. This is the form a production dedup actually
    * runs; the driver-side loop is control flow only — each round is
    * the same one-shuffle propagate plan, materialized per round.
    *
    * Scale posture: per-round frames are lineage-cut ([[Checkpoints]]
    * — `localCheckpoint` on local[N], reliable `checkpoint` under the
    * checkpoint-dir gate) — this is
    * load-bearing, not optional. Each round's logical plan references
    * its predecessor's twice (join branch + own-label branch), so
    * without lineage truncation the plan DOUBLES per round and the
    * driver's analyze/canonicalize/cache-lookup passes go exponential:
    * measured on the sf0.1 fixture, round 3 planning alone took 8–34 s
    * (either propagate form) vs <100 ms execution. The eager local
    * checkpoint pins each round as a materialized RDD with an O(1)
    * plan; a multi-executor production run would use reliable
    * `checkpoint()` (HDFS/object store) for fault tolerance — same
    * loop, same truncation. The convergence test (`changed == 0`) is
    * one cheap agg against the checkpointed round.
    *
    * Oracle: DuckDB recursive CTE — min reachable node over the
    * symmetric edge set, a genuinely different algorithm (BFS closure
    * vs iterated relational propagation) that must agree exactly. */
  def dedupClusterConverged(s: SparkSession, d: String): DataFrame =
    ccConvergedWithStats(s, d, CcMaxRounds)._1

  /** [[dedupClusterConverged]] with the loop's outcome exposed:
    * (result, rounds run, converged?). Package-visible so the spec can
    * pin "converges well before the cap on the fixture" and exercise the
    * cap-trip warning with a tiny maxRounds. */
  private[graft] def ccConvergedWithStats(s: SparkSession, d: String,
      maxRounds: Int): (DataFrame, Int, Boolean) = {
    val pairs = PipelineCache.getOrPersist(s"dedup:verifiedPairs:$d")(
      dedupMinhashLsh(s, d).select(col("a_id"), col("b_id")))
    val edges0 = PipelineCache.getOrPersist(s"dedup:ccEdges:$d")(
      pairs.union(pairs.select(col("b_id").as("a_id"), col("a_id").as("b_id"))))
    // Round-8 loop discipline (see GraphQueries.sccLabels): snapshot the
    // edge base to a LogicalRDD so per-round analysis stops re-walking
    // the whole minhash plan; lazy-checkpoint each round, materialized
    // by its own lblSum probe (one scheduler barrier per round, not
    // two); state-sized static round plans via withLoopExec.
    val edges = edges0.cutLineage()
    val nEdges = edges.count()
    GraphQueries.withLoopExec(s, stateRows = nEdges) {
    var labels = edges.select(col("a_id").as("id")).distinct()
      .select(col("id"), col("id").as("lbl"))
      .cutLineage(eager = false)
    // convergence check: labels are MONOTONICALLY non-increasing under
    // min-propagation, so the label sum strictly decreases until the
    // fixpoint — one cheap agg on the checkpointed round result replaces
    // a join-with-previous diff. coalesce guards the zero-row corpus
    // (no verified near-dup pair → empty label frame → sum NULL).
    def lblSum(df: DataFrame): Long =
      df.agg(coalesce(sum(col("lbl")), lit(0L))).head.getLong(0)
    var prevSum = lblSum(labels)
    var changed = true
    var rounds = 0
    while (changed && rounds < maxRounds) {
      // same one-join propagate as dedupClusterLabels: neighbor labels
      // via the single edges⋈labels join, own label via the union branch
      val next = labels
        .join(edges, col("id") === col("b_id"))
        .select(col("a_id").as("id"), col("lbl"))
        .union(labels)
        .groupBy("id").agg(min(col("lbl")).as("lbl"))
        .cutLineage(eager = false) // lblSum below materializes it
      val s = lblSum(next)
      changed = s != prevSum
      prevSum = s
      labels = next
      rounds += 1
    }
    if (changed) {
      // exited via the round cap, not convergence: the labels are NOT the
      // transitive closure (graph diameter > maxRounds) and would
      // silently diverge from the recursive-CTE oracle — say so loudly
      // (plain stderr, not log4j: must surface even when logging is quiet)
      System.err.println(
        s"[graft] dedup_cluster_converged: round cap maxRounds=$maxRounds " +
        "reached before convergence — labels are truncated, not the true " +
        "transitive closure. Raise CcMaxRounds (and checkpoint lineage) for " +
        "this graph.")
    }
    PipelineCache.register(s"dedup:ccConverged:$d", labels)
    (labels.select(col("id").as("doc_id"), col("lbl").as("cluster"))
      .orderBy("doc_id"), rounds, !changed)
    }
  }

  /** Diameter cap for [[dedupClusterConverged]] (see its scaladoc). */
  val CcMaxRounds = 12

  /** Shared-PASSAGE detection — substring-level duplication the
    * whole-document Jaccard pipelines under-weight: doc pairs sharing at
    * least [[PassageMinShared]] distinct 3-gram shingles, found by a
    * self-join on the exploded shingle table.
    *
    * Scale posture — the stop-shingle problem: a shingle appearing in
    * df docs fans out to df·(df−1)/2 pairs, so one boilerplate phrase in
    * 1% of a 100 TB corpus would alone generate 10^12 candidate rows.
    * The df-band filter (2 ≤ df ≤ [[PassageDfCap]]) is the standard
    * stop-ngram prune: ultra-common shingles carry no dedup signal
    * (they're stopword runs) and are dropped BEFORE the pair join, which
    * bounds every shingle's fan-out by the cap. The df computation
    * itself is one partial-aggregated shuffle of (shingle, doc). */
  private[graft] val PassageDfCap = 50L
  private[graft] val PassageMinShared = 10L

  def dedupSharedPassage(s: SparkSession, d: String): DataFrame = {
    // one shared df-banded gram frame with [[dedupShingleContainment]]
    // (round 14): both queries band identically (2 ≤ df ≤ cap) and
    // neither reads the df column after the band filter, so the
    // gram→df join is built once per session instead of once per
    // query — same plan below the persist, pair sets untouched.
    val kept = bandedGrams(s, d)
    kept.as("a")
      .join(kept.as("b"),
        col("a.g") === col("b.g") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= PassageMinShared)
      .orderBy("a_id", "b_id")
  }

  /** Minimum df-banded shared shingles before a containment ratio is
    * meaningful (below this, one boilerplate phrase dominates). */
  private[graft] val ContainMinShared = 5L
  private[graft] val ContainTau = 0.8

  /** Directed shingle CONTAINMENT — |A∩B| / |A| over the df-banded
    * shingle universe: the asymmetric near-dup metric Jaccard cannot
    * see. A short doc quoted inside a long one has tiny Jaccard (the
    * union is dominated by the long doc) but containment ≈ 1 from the
    * short side — the quote-inclusion / doc-subsumption detector a
    * dedup pipeline runs AFTER symmetric near-dup, to drop subsumed
    * fragments while keeping their containers.
    *
    * Both the numerator (shared) and denominator (n_kept) count within
    * the SAME df-band (2 ≤ df ≤ [[PassageDfCap]]) — self-consistent,
    * and the band is load-bearing at scale: it is the stop-ngram prune
    * that bounds every shingle's pair fan-out ([[dedupSharedPassage]]'s
    * analysis applies verbatim; the DIRECTED emission is exactly 2× the
    * undirected pair set). The denominator join probes per-doc counts —
    * one extra partial-aggregated shuffle over the kept grams, shared
    * with the pair branch through the persisted gram frame. */
  /** df-banded (2 ≤ df ≤ [[PassageDfCap]]) gram occurrences, persisted
    * once per session — the shared pair-join base of
    * [[dedupSharedPassage]] and [[dedupShingleContainment]] (round 14:
    * the two queries built byte-identical frames under different
    * names; one persist means the second consumer starts at the cached
    * blocks). */
  private def bandedGrams(s: SparkSession, d: String): DataFrame = {
    val grams = PipelineCache.getOrPersist(s"dedup:passageGrams:$d")(
      shingled(s, d).select(col("doc_id"), explode(col("sh")).as("g")))
    val dfg = grams.groupBy("g").agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2 && col("df") <= PassageDfCap)
    PipelineCache.getOrPersist(s"dedup:containKept:$d")(
      grams.join(dfg.select("g"), "g"))
  }

  def dedupShingleContainment(s: SparkSession, d: String): DataFrame = {
    val kept = bandedGrams(s, d)
    val na = kept.groupBy("doc_id").agg(count(lit(1)).as("n_kept"))
    kept.as("a")
      .join(kept.as("b"),
        col("a.g") === col("b.g") && col("a.doc_id") =!= col("b.doc_id"))
      .groupBy(col("a.doc_id").as("contained_id"),
        col("b.doc_id").as("container_id"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= ContainMinShared)
      .join(na.withColumnRenamed("doc_id", "contained_id"), "contained_id")
      .withColumn("containment",
        col("shared").cast("double") / col("n_kept").cast("double"))
      .filter(col("containment") >= ContainTau)
      .select("contained_id", "container_id", "shared", "containment")
      .orderBy("contained_id", "container_id")
  }

  private[graft] val TfidfDfCap = PassageDfCap // same df band as passages
  private[graft] val TfidfTau = 0.35

  /** WEIGHTED document similarity: tf·idf sparse cosine via a df-capped
    * postings (inverted-index) join — the complement of the suite's
    * SET-based measures (minhash/PPJoin Jaccard weight every term
    * equally; tf·idf cosine up-weights rare terms and repeated use, the
    * measure retrieval-style near-dup mining uses).
    *
    * Terms are 3-gram shingle OCCURRENCES (the multiset, not the
    * distinct set the Jaccard ops use): the fixture's word vocabulary
    * is ~31 tokens — word-level tf·idf would be degenerate (nearly
    * every word lands outside any useful df band) — while the shingle
    * space is combinatorially rich, the same reason every other text
    * pipeline here shingles first.
    *
    * Pipeline: term frequencies from the shared [[hashedBase]] token
    * hashes → document frequencies → idf weight N/df (a plain rational
    * — no log: one exact integer-derived division, bit-identical
    * cross-engine, monotone in rarity just like log(N/df)) → L2 norms
    * per doc → postings self-join on the term, Σ w_a·w_b partial-
    * aggregated per pair → cosine = dot/(‖a‖·‖b‖), rounded to 9
    * decimals BEFORE the τ cut so both engines threshold the identical
    * value (sum-order drift ~1e−15 ≪ rounding granularity; sqrt is
    * IEEE-correctly-rounded in both engines).
    *
    * Scale posture: the ONLY pair generator is the postings join, and
    * it is bounded by the df band (2 ≤ df ≤ [[TfidfDfCap]]): a term
    * contributes ≤ df²/2 pairs, so candidates are linear in corpus
    * size × cap — stop-word-like terms (the quadratic hazard AND the
    * lowest idf weight) never enter the join, the same argument as the
    * shared-passage df cap. Norms are computed over the SAME capped
    * vocabulary, so dropped terms are consistently absent from both
    * numerator and denominator. */
  def textTfidfCosine(s: SparkSession, d: String): DataFrame = {
    // df per term as an unbounded count over a window keyed by the term:
    // ONE shuffle by t replaces the former groupBy("t")+equi-join pair, and
    // the intermediate tf frame no longer needs its own persist (it fed
    // nothing but this join) — less codegen to compile cold and one fewer
    // cached frame occupying executor memory for the rest of the sweep.
    val nDocs = Tables.documents(s, d).agg(count(lit(1)).as("n_docs"))
    val termWin = org.apache.spark.sql.expressions.Window.partitionBy("t")
    val w = PipelineCache.getOrPersist(s"dedup:tfidfW:$d")(
      hashedBase(s, d).filter(col("n") >= 3)
        .select(col("doc_id"),
          explode(shingleHashesHof(col("th"), 3, distinct = false)).as("t"))
        .groupBy("doc_id", "t").agg(count(lit(1)).as("tfv"))
        .withColumn("df", count(lit(1)).over(termWin))
        .filter(col("df") >= 2 && col("df") <= TfidfDfCap)
        .crossJoin(broadcast(nDocs))
        .select(col("doc_id"), col("t"),
          (col("tfv").cast(DoubleType) *
            (col("n_docs").cast(DoubleType) / col("df").cast(DoubleType)))
            .as("w")))
    val norms = w.groupBy("doc_id").agg(sqrt(sum(col("w") * col("w"))).as("nrm"))
    w.as("a")
      .join(w.as("b"),
        col("a.t") === col("b.t") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .agg(sum(col("a.w") * col("b.w")).as("dot"),
        count(lit(1)).as("shared_terms"))
      .join(norms.select(col("doc_id").as("a_id"), col("nrm").as("na")), "a_id")
      .join(norms.select(col("doc_id").as("b_id"), col("nrm").as("nb")), "b_id")
      .select(col("a_id"), col("b_id"), col("shared_terms"),
        round(col("dot") / (col("na") * col("nb")), 9).as("cos_sim"))
      .filter(col("cos_sim") >= TfidfTau)
      .orderBy("a_id", "b_id")
  }

  /** Cluster-size histogram over the CONVERGED components — the dedup
    * health metric a pipeline owner actually reads ("how many pairs vs
    * how many 50-doc boilerplate families?"): cluster_size → number of
    * clusters of that size. Two tiny aggregations on top of the CC
    * result (first keyed by cluster, then by size), both map-side
    * partial — the cost is the CC loop itself, shared shape with
    * `dedup_cluster_converged`. */
  def dedupClusterSizes(s: SparkSession, d: String): DataFrame =
    dedupClusterConverged(s, d)
      .groupBy("cluster").agg(count(lit(1)).as("sz"))
      .groupBy("sz").agg(count(lit(1)).as("n_clusters"))
      .select(col("sz").as("cluster_size"), col("n_clusters"))
      .orderBy("cluster_size")

  /** Benchmark-contamination check — the decontamination step every
    * pretraining pipeline runs before training: flag training documents
    * that share any 3-gram shingle with a held-out evaluation set. The
    * held-out side here is the same deterministic hash split as
    * `sample_hash_split` (salt "split:", bucket ≥ 90), so the two
    * queries compose into one pipeline: split → decontaminate train
    * against holdout.
    *
    * Scale posture: the eval/benchmark side is SMALL by construction at
    * any corpus size (benchmarks don't grow with the crawl), so its
    * distinct shingle set is broadcast — the 100 TB training side
    * streams map-side against it with NO shuffle of the corpus; the only
    * shuffle is the per-doc rollup of matched shingles (already
    * collapsed by partial aggregation). Same shingle base
    * ([[hashedBase]]/[[shingled]]) as the dedup pipelines — the md5
    * tokenization is still paid once. */
  def dedupContaminationNgram(s: SparkSession, d: String): DataFrame = {
    val split = pmod(hexFold32(md5(concat(lit("split:"), col("doc_id").cast("string")))), lit(100L))
    val grams = shingled(s, d)
      .select(col("doc_id"), (split < 90).as("is_train"), explode(col("sh")).as("g"))
    val bench = broadcast(grams.filter(!col("is_train")).select("g").distinct())
    grams.filter(col("is_train"))
      .join(bench, "g")
      .groupBy("doc_id")
      .agg(count_distinct(col("g")).as("n_shared"))
      .orderBy("doc_id")
  }

  /** Near-dup PRUNE — the step the whole dedup suite exists to feed:
    * drop every non-representative member of each converged near-dup
    * cluster (representative = the cluster's min doc id, which IS the
    * min-label the CC loop propagates — no second election pass) and
    * report the surviving corpus per source, in docs and BPE tokens.
    * This is the "after" row of a dedup report: how much corpus is left
    * once boilerplate families collapse to one exemplar each.
    *
    * Scale posture: the loser set is SMALL at any corpus scale (only
    * non-representative cluster members — bounded by the duplicate
    * fraction, not the corpus), so membership rides as a broadcast
    * left-outer probe over the bare documents scan: no shuffle of the
    * corpus, one partial-aggregated rollup. The CC loop's cost is
    * shared with `dedup_cluster_converged` via [[PipelineCache]]. */
  def dedupNeardupPrune(s: SparkSession, d: String): DataFrame = {
    import graft.text.TextAnalysis.approxBpeCount
    val losers = dedupClusterConverged(s, d)
      .filter(col("doc_id") =!= col("cluster"))
      .select(col("doc_id"), lit(true).as("pruned"))
    Tables.documents(s, d)
      .join(broadcast(losers), Seq("doc_id"), "left_outer")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        count(when(col("pruned").isNull, 1)).as("n_kept"),
        sum(when(col("pruned").isNull, approxBpeCount(col("text")))
          .otherwise(0L)).as("kept_tokens"))
      .orderBy("source")
  }

  /** Incremental-INGEST dedup — the production shape for a continuously
    * crawled corpus: classify each NEW batch document (here: a
    * hash-derived 10% "arrival" slice) against the standing corpus as
    * `exact_dup` (content hash already present), `near_dup` (≥ 5
    * distinct shingles shared with corpus docs), or `novel`. The batch
    * pipeline runs per ingest tick; only the verdicts change per tick.
    *
    * Scale posture — the asymmetric-sides pattern, applied twice: the
    * new batch is SMALL at any corpus size (a crawl tick, not the
    * crawl), so its fingerprint and shingle sets ride as broadcasts and
    * the 100 TB corpus side is consumed by MAP-SIDE semi-probes only:
    *   1. corpus fps ⋉ broadcast(new fp set)        → matched fps (tiny)
    *   2. corpus grams ⋉ broadcast(new gram set)    → shared grams, THEN
    *      distinct'd (the distinct runs on the post-prune survivor set,
    *      never on the corpus's full gram table)
    *   3. both tiny result sets broadcast back onto the new batch.
    * The corpus is never shuffled; the only exchanges carry
    * batch-bounded data. Same role-flip as [[dedupContaminationNgram]]
    * (there the SMALL side is the benchmark; here it's the arrivals).
    *
    * Broadcast-size guard (round-6 verdict #3): the "batch is small"
    * premise is an OPERATIONAL contract, not a law — if a caller points
    * this at an arrival set that tracks corpus size, an unconditional
    * `broadcast()` of its gram set is a driver OOM. Every batch-derived
    * broadcast therefore goes through [[broadcastIfSmall]]: under the
    * plan-stat size cap the hint applies (the intended map-side probe);
    * above it the hint is dropped and the join falls through to AQE's
    * runtime choice (sort-merge/shuffled-hash on actual sizes). */
  def dedupIncrementalBatch(s: SparkSession, d: String): DataFrame =
    dedupIncrementalBatchGuarded(s, d, IncBroadcastCapBytes)

  /** Plan-stat estimated size cap for [[dedupIncrementalBatch]]'s
    * batch-side broadcasts: generous vs the 8 GiB broadcast hard limit
    * but far below driver-heap risk. */
  private[graft] val IncBroadcastCapBytes: Long = 512L << 20

  private[graft] def dedupIncrementalBatchGuarded(
      s: SparkSession, d: String, capBytes: Long): DataFrame = {
    val isNew = pmod(hexFold32(md5(concat(lit("inc:"),
      col("doc_id").cast("string")))), lit(100L)) >= 90
    val fps = Tables.documents(s, d)
      .select(col("doc_id"), isNew.as("is_new"), md5(col("text")).as("fp"))
    val newFpSet = fps.filter(col("is_new")).select("fp").distinct()
    val grams = shingled(s, d)
      .select(col("doc_id"), isNew.as("is_new"), explode(col("sh")).as("g"))
    val newGrams = grams.filter(col("is_new"))
    val newGramSet = newGrams.select("g").distinct()
    // Guard decision evaluated ONCE, on the LARGEST batch-derived frame
    // (the gram set dominates every other broadcast side) — reading the
    // plan-stat estimate forces an analyze+optimize pass, and doing it
    // per broadcast site cost six eager Catalyst passes per
    // construction (round-7 review). Plan-stat estimates are crude
    // (filter selectivity often unknown), which is exactly why the
    // fallback is "no hint" rather than "never broadcast": a false
    // TOO-BIG estimate costs one avoidable shuffle; a false
    // SMALL-ENOUGH estimate under an unconditional hint costs the
    // driver.
    val useHint =
      newGramSet.queryExecution.optimizedPlan.stats.sizeInBytes <= capBytes
    def bc(df: DataFrame): DataFrame = if (useHint) broadcast(df) else df
    val exactDup = fps.filter(!col("is_new"))
      .join(bc(newFpSet), "fp").select("fp").distinct()
    val oldShared = grams.filter(!col("is_new"))
      .join(bc(newGramSet), "g").select("g").distinct()
    val nearCounts = newGrams.join(bc(oldShared), "g")
      .groupBy("doc_id").agg(count_distinct(col("g")).as("n_shared"))
    // near-dup gate is shingle CONTAINMENT ≥ 0.7 — shared fraction of the
    // NEW doc's own shingles, compared in exact integer arithmetic
    // (n_shared·10 ≥ n_sh·7), the asymmetric-containment metric
    // incremental dedup actually uses (a doc wholly contained in the
    // corpus is a dup even when the corpus doc is much longer)
    val newSizes = shingled(s, d).filter(isNew)
      .select(col("doc_id"), size(col("sh")).as("n_sh"))
    fps.filter(col("is_new"))
      .join(bc(exactDup.withColumn("is_exact", lit(true))),
        Seq("fp"), "left_outer")
      .join(bc(nearCounts), Seq("doc_id"), "left_outer")
      .join(bc(newSizes), Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        when(col("is_exact"), "exact_dup")
          .when(col("n_shared") * 10 >= col("n_sh") * 7, "near_dup")
          .otherwise("novel").as("verdict"))
      .groupBy("verdict")
      .agg(count(lit(1)).as("n_docs"),
        min("doc_id").as("min_id"), max("doc_id").as("max_id"))
      .orderBy("verdict")
  }

  /** Per-document shingle NOVELTY — the inter-document complement of
    * `text_repetition_score`'s intra-document signal: what fraction of
    * a doc's distinct 3-gram shingles appear NOWHERE else in the corpus
    * (corpus df = 1). Low novelty marks boilerplate families before
    * pairwise dedup even runs; rank-by-novelty is the cheap first
    * filter of a near-dup budget.
    *
    * Scale posture: one partial-aggregated shuffle for the corpus df
    * table, then the (doc, gram) table joins it ON THE SAME KEY — the
    * exchange is reused, not repeated — and rolls up per doc. No pair
    * joins anywhere: novelty is linear in corpus shingle count. */
  def textShingleNovelty(s: SparkSession, d: String): DataFrame = {
    // same cache key as dedupSharedPassage/dedupShingleContainment: the
    // exploded gram frame is byte-identical, so a session running both
    // materializes it once (advice r4)
    val grams = PipelineCache.getOrPersist(s"dedup:passageGrams:$d")(
      shingled(s, d).select(col("doc_id"), explode(col("sh")).as("g")))
    val dfg = grams.groupBy("g").agg(count(lit(1)).as("df"))
    val uniq = grams.join(dfg.filter(col("df") === 1), "g")
      .groupBy("doc_id").agg(count(lit(1)).as("n_unique"))
    shingled(s, d).select(col("doc_id"), size(col("sh")).as("n_shingles"))
      .join(uniq, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("n_shingles"),
        coalesce(col("n_unique"), lit(0L)).as("n_unique"),
        (coalesce(col("n_unique"), lit(0L)).cast("double") /
          col("n_shingles").cast("double")).as("novelty_frac"))
      .orderBy("doc_id")
  }

  /** LSH RECALL EVAL — the measurement that decides whether the banded
    * minhash index is safe to trust at corpus scale: ground truth is
    * the PPJoin exact similarity join (complete at J=0.8 by the
    * prefix-filter theorem), found is the LSH pipeline's verified
    * pairs. Found ⊆ truth (both exact-verify at the same threshold), so
    * recall is a pure count ratio — n_found/n_truth in one double
    * division. Expected value for 4 bands × 2 rows at J=0.8 is
    * 1−(1−J²)⁴ ≈ 0.983 per-pair; a measured dip below that says the
    * banding needs re-sizing BEFORE the index ships. Companion to
    * `dedup_minhash_error` (which QAs the estimator; this QAs the
    * INDEX).
    *
    * Scale posture: both sub-pipelines reuse the persisted shingle/
    * signature bases; the eval itself aggregates each to ONE row. */
  def dedupLshRecallEval(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types.DoubleType
    val t = dedupPrefixJaccard(s, d).agg(count(lit(1)).as("n_truth"))
    val f = dedupMinhashLsh(s, d).agg(count(lit(1)).as("n_found"))
    t.crossJoin(broadcast(f)).select(col("n_truth"), col("n_found"),
      (col("n_truth") - col("n_found")).as("n_missed"),
      (col("n_found").cast(DoubleType) / col("n_truth").cast(DoubleType))
        .as("recall"))
  }

  /** DUPLICATE-CLUSTER PROFILE — the dedup ROI report a pipeline owner
    * reads before paying for near-dup passes: exact-hash clusters
    * folded to a cluster-size histogram with, per size, how many
    * clusters, how many docs they hold, and the characters a
    * keep-one-per-cluster dedup would delete (cluster members share
    * identical text, so (size − 1) × n_chars is exact, not an
    * estimate).
    *
    * Determinism: md5-equality clusters and pure integer arithmetic.
    * Scale posture: two partial-aggregated keyed shuffles (hash, then
    * size) — the histogram is bounded by the largest cluster size. */
  def dedupDuplicateProfile(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .groupBy(md5(col("text")).as("h"))
      .agg(count(lit(1)).as("sz"), max(col("n_chars")).as("chars"))
      .groupBy(col("sz").as("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"),
        sum(col("sz")).as("n_docs"),
        sum((col("sz") - 1L) * col("chars")).as("dedup_savings_chars"))
      .orderBy("cluster_size")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_minhash_band_stats"  -> dedupMinhashBandStats _,
    "dedup_jaccard_histogram"   -> dedupJaccardHistogram _,
    "dedup_duplicate_profile"   -> dedupDuplicateProfile _,
    "dedup_threshold_sweep"     -> dedupThresholdSweep _,
    "dedup_lsh_recall_eval"     -> dedupLshRecallEval _,
    "text_tfidf_cosine"         -> textTfidfCosine _,
    "dedup_shingle_containment" -> dedupShingleContainment _,
    "dedup_incremental_batch"   -> dedupIncrementalBatch _,
    "text_shingle_novelty"      -> textShingleNovelty _,
    "dedup_neardup_prune"       -> dedupNeardupPrune _,
    "dedup_cluster_converged"   -> dedupClusterConverged _,
    "dedup_cluster_sizes"       -> dedupClusterSizes _,
    "dedup_shared_passage"      -> dedupSharedPassage _,
    "dedup_contamination_ngram" -> dedupContaminationNgram _,
    "dedup_exact_text"       -> dedupExactText _,
    "dedup_minhash_lsh"      -> dedupMinhashLsh _,
    "dedup_editdist_verify"  -> dedupEditdistVerify _,
    "dedup_minhash_error"    -> dedupMinhashError _,
    "dedup_prefix_jaccard"   -> dedupPrefixJaccard _,
    "dedup_simhash"          -> dedupSimhash _,
    "dedup_embedding_cosine" -> dedupEmbeddingCosine _,
    "dedup_cluster_labels"   -> dedupClusterLabels _,
  )

  // ---- DuckDB oracle SQL (mirrors the exact arithmetic above) ----

  private val toksSql =
    "list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')"
  /** Hex nibble value of char at `pos` (1-based) of md5(t). */
  private def nib(pos: Int): String = {
    val c = s"ascii(substr(md5(t), $pos, 1))"
    s"CAST(CASE WHEN $c >= 97 THEN $c - 87 ELSE $c - 48 END AS BIGINT)"
  }
  private val tokenHash32Sql = // long from first 8 md5 hex chars, per nibble
    (0 until 8).map(i => s"${nib(i + 1)} * ${1L << (4 * (7 - i))}").mkString(" + ")
  /** Distinct 3-gram shingle hashes from the token-hash list `th`;
    * range(1, n-1) ≡ start positions 1..n-2, matching Spark's
    * sequence(1, n-2); combine formula mirrors Dedup.shingleHashes. */
  /** 3-gram shingle hashes as an occurrence MULTISET (tf-idf needs
    * counts); [[shSql]] is its distinct-set form. */
  private val shMultiSql =
    "list_transform(range(1, len(th)-1), i -> (((th[i]*8191 + th[i+1]) % 4294967311) * 8191 + th[i+2]) % 4294967311)"
  private val shSql = s"list_distinct($shMultiSql)"
  private val thCte =
    s"""WITH t0 AS (SELECT doc_id, $toksSql AS tok FROM documents),
       |th0 AS (SELECT doc_id, len(tok) AS n,
       |  list_transform(tok, t -> $tokenHash32Sql) AS th FROM t0)""".stripMargin
  private[ops] val baseCte =
    s"""$thCte,
       |base AS (SELECT doc_id, $shSql AS sh FROM th0 WHERE n >= 3)""".stripMargin

  private val jaccardSql =
    """CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE) /
      |CAST(len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh)) AS DOUBLE)""".stripMargin

  private val verifySql =
    s"""SELECT a_id, b_id, $jaccardSql AS jaccard
       |FROM cand JOIN base x ON x.doc_id = a_id JOIN base y ON y.doc_id = b_id
       |WHERE $jaccardSql >= $J
       |ORDER BY a_id, b_id""".stripMargin

  private val simhashTerms = (0 until 32).map { j =>
    s"(CASE WHEN 2*len(list_filter(vs, v -> (v >> $j) & 1 = 1)) > n THEN ${1L << j} ELSE 0 END)"
  }.mkString(" + ")

  private val cosSql =
    """list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(range(1, len(a.embedding)+1),
      |  i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))), (s, v) -> s + v) /
      |sqrt(
      |  list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(range(1, len(a.embedding)+1),
      |    i -> CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE))), (s, v) -> s + v) *
      |  list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(range(1, len(b.embedding)+1),
      |    i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))), (s, v) -> s + v))""".stripMargin

  /** Shared CTE chain: token hashes → shingles → minhash signatures →
    * LSH band candidates (used by the minhash query and the cluster
    * labels built on its verified pairs). */
  private val minhashCandCte =
    s"""$baseCte,
       |sig AS (SELECT doc_id, list_transform(range(0,8),
       |  i -> list_min(list_transform(sh, h -> ((2*i+3)*h + i*2654435761) % 4294967311))) AS sig FROM base),
       |bands AS (SELECT doc_id, b, sig[2*b+1] || '|' || sig[2*b+2] AS bkey
       |  FROM sig CROSS JOIN (SELECT unnest(range(0,4)) AS b) t),
       |cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
       |  FROM bands a JOIN bands b ON a.b = b.b AND a.bkey = b.bkey AND a.doc_id < b.doc_id)""".stripMargin

  val oracle: Map[String, String] = Map(
    "dedup_duplicate_profile" ->
      """WITH c AS (
        |  SELECT md5(text) AS h, COUNT(*) AS sz, MAX(n_chars) AS chars
        |  FROM documents GROUP BY md5(text))
        |SELECT sz AS cluster_size, COUNT(*) AS n_clusters,
        |  CAST(SUM(sz) AS BIGINT) AS n_docs,
        |  CAST(SUM((sz - 1) * chars) AS BIGINT) AS dedup_savings_chars
        |FROM c GROUP BY sz ORDER BY cluster_size""".stripMargin,
    "dedup_threshold_sweep" ->
      // prefix length uses (1.0 - 0.7) — the IDENTICAL double the
      // engine's prefixShingles computes (a 0.3 literal parses to a
      // DIFFERENT double and shifts the floor on some lengths)
      s"""$baseCte,
         |pref AS (SELECT doc_id, len(sh) AS n,
         |    CAST(i AS INTEGER) - 1 AS pos,
         |    list_sort(sh)[CAST(i AS INTEGER)] AS p
         |  FROM base, UNNEST(range(1,
         |    CAST(floor(len(sh) * (1.0 - 0.7)) AS BIGINT) + 2)) AS t(i)),
         |cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
         |  FROM pref a JOIN pref b ON a.p = b.p AND a.doc_id < b.doc_id
         |    AND a.n * 10 >= b.n * 7 AND b.n * 10 >= a.n * 7
         |    AND 1 + least(a.n - a.pos - 1, b.n - b.pos - 1) >=
         |        ((a.n + b.n) * 7 + 16) // 17),
         |j AS (SELECT $jaccardSql AS j
         |  FROM cand JOIN base x ON x.doc_id = a_id
         |  JOIN base y ON y.doc_id = b_id)
         |SELECT COUNT(*) AS n_candidates,
         |  CAST(SUM(CASE WHEN j >= 0.7 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_ge_070,
         |  CAST(SUM(CASE WHEN j >= 0.8 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_ge_080,
         |  CAST(SUM(CASE WHEN j >= 0.9 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_ge_090
         |FROM j""".stripMargin,
    "dedup_lsh_recall_eval" ->
      s"""$minhashCandCte,
         |lsh_found AS (SELECT a_id, b_id
         |  FROM cand JOIN base x ON x.doc_id = a_id
         |  JOIN base y ON y.doc_id = b_id
         |  WHERE $jaccardSql >= $J),
         |pref AS (SELECT doc_id, unnest(list_slice(list_sort(sh), 1,
         |  CAST(floor(${1.0 - J}*len(sh)) AS INTEGER) + 1)) AS p FROM base),
         |tcand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
         |  FROM pref a JOIN pref b ON a.p = b.p AND a.doc_id < b.doc_id),
         |truth AS (SELECT a_id, b_id
         |  FROM tcand AS cand2 JOIN base x ON x.doc_id = cand2.a_id
         |  JOIN base y ON y.doc_id = cand2.b_id
         |  WHERE $jaccardSql >= $J)
         |SELECT t.n AS n_truth, f.n AS n_found, t.n - f.n AS n_missed,
         |  CAST(f.n AS DOUBLE) / CAST(t.n AS DOUBLE) AS recall
         |FROM (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM truth) t
         |CROSS JOIN (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM lsh_found) f""".stripMargin,
    // transitive closure by recursive BFS — a different algorithm than
    // the engine's iterated propagation; must agree exactly at fixpoint
    "dedup_cluster_converged" ->
      s"""${minhashCandCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
         |pairs AS (SELECT a_id, b_id
         |  FROM cand JOIN base x ON x.doc_id = a_id JOIN base y ON y.doc_id = b_id
         |  WHERE $jaccardSql >= $J),
         |edges AS (SELECT a_id, b_id FROM pairs
         |          UNION ALL SELECT b_id, a_id FROM pairs),
         |reach AS (
         |  SELECT DISTINCT a_id AS id, a_id AS r FROM edges
         |  UNION
         |  SELECT t.id, e.b_id FROM reach t JOIN edges e ON e.a_id = t.r)
         |SELECT id AS doc_id, MIN(r) AS cluster FROM reach GROUP BY id ORDER BY doc_id""".stripMargin,
    "dedup_incremental_batch" ->
      s"""$baseCte,
         |fps AS (SELECT doc_id,
         |    (${OracleSql.fold32("'inc:' || CAST(doc_id AS VARCHAR)")}) % 100 >= 90 AS is_new,
         |    md5(text) AS fp
         |  FROM documents),
         |exactdup AS (SELECT DISTINCT f.fp FROM fps f
         |  JOIN (SELECT DISTINCT fp FROM fps WHERE is_new) n ON f.fp = n.fp
         |  WHERE NOT f.is_new),
         |g AS (SELECT doc_id,
         |    (${OracleSql.fold32("'inc:' || CAST(doc_id AS VARCHAR)")}) % 100 >= 90 AS is_new,
         |    unnest(sh) AS g FROM base),
         |newg AS (SELECT doc_id, g FROM g WHERE is_new),
         |oldshared AS (SELECT DISTINCT g.g FROM g
         |  JOIN (SELECT DISTINCT g FROM newg) n ON g.g = n.g
         |  WHERE NOT is_new),
         |near AS (SELECT doc_id, COUNT(DISTINCT newg.g) AS n_shared
         |  FROM newg JOIN oldshared ON newg.g = oldshared.g GROUP BY doc_id),
         |sz AS (SELECT doc_id, len(sh) AS n_sh FROM base)
         |SELECT verdict, COUNT(*) AS n_docs,
         |  MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
         |FROM (
         |  SELECT f.doc_id,
         |    CASE WHEN e.fp IS NOT NULL THEN 'exact_dup'
         |         WHEN near.n_shared * 10 >= sz.n_sh * 7 THEN 'near_dup'
         |         ELSE 'novel' END AS verdict
         |  FROM fps f LEFT JOIN exactdup e ON f.fp = e.fp
         |  LEFT JOIN near ON f.doc_id = near.doc_id
         |  LEFT JOIN sz ON f.doc_id = sz.doc_id
         |  WHERE f.is_new)
         |GROUP BY verdict ORDER BY verdict""".stripMargin,
    "text_shingle_novelty" ->
      s"""$baseCte,
         |g AS (SELECT doc_id, unnest(sh) AS g FROM base),
         |dfg AS (SELECT g, COUNT(*) AS df FROM g GROUP BY g),
         |u AS (SELECT doc_id, COUNT(*) AS n_unique
         |  FROM g JOIN dfg ON g.g = dfg.g WHERE df = 1 GROUP BY doc_id)
         |SELECT b.doc_id AS doc_id, len(sh) AS n_shingles,
         |  COALESCE(u.n_unique, 0) AS n_unique,
         |  CAST(COALESCE(u.n_unique, 0) AS DOUBLE) /
         |    CAST(len(sh) AS DOUBLE) AS novelty_frac
         |FROM base b LEFT JOIN u ON b.doc_id = u.doc_id
         |ORDER BY b.doc_id""".stripMargin,
    // same recursive closure as dedup_cluster_converged, consumed as a
    // pruning mask over the full corpus
    "dedup_neardup_prune" ->
      s"""${minhashCandCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
         |pairs AS (SELECT a_id, b_id
         |  FROM cand JOIN base x ON x.doc_id = a_id JOIN base y ON y.doc_id = b_id
         |  WHERE $jaccardSql >= $J),
         |edges AS (SELECT a_id, b_id FROM pairs
         |          UNION ALL SELECT b_id, a_id FROM pairs),
         |reach AS (
         |  SELECT DISTINCT a_id AS id, a_id AS r FROM edges
         |  UNION
         |  SELECT t.id, e.b_id FROM reach t JOIN edges e ON e.a_id = t.r),
         |labels AS (SELECT id, MIN(r) AS cluster FROM reach GROUP BY id),
         |losers AS (SELECT id AS doc_id FROM labels WHERE id <> cluster)
         |SELECT source, COUNT(*) AS n_docs,
         |  COUNT(CASE WHEN l.doc_id IS NULL THEN 1 END) AS n_kept,
         |  CAST(SUM(CASE WHEN l.doc_id IS NULL THEN ${graft.ops.TextQueries.bpeSql}
         |    ELSE 0 END) AS BIGINT) AS kept_tokens
         |FROM documents dd LEFT JOIN losers l ON dd.doc_id = l.doc_id
         |GROUP BY source ORDER BY source""".stripMargin,
    "text_tfidf_cosine" ->
      // identical arithmetic: rational idf N/df (no log), sqrt norms
      // over the SAME df-band vocabulary, 9-decimal rounding BEFORE the
      // tau comparison so both engines threshold the identical value
      s"""$thCte,
         |tf AS (SELECT doc_id, t, COUNT(*) AS tfv
         |  FROM (SELECT doc_id, unnest($shMultiSql) AS t
         |        FROM th0 WHERE n >= 3) GROUP BY 1, 2),
         |dfc AS (SELECT t, COUNT(*) AS df FROM tf GROUP BY 1
         |  HAVING COUNT(*) >= 2 AND COUNT(*) <= $TfidfDfCap),
         |nd AS (SELECT COUNT(*) AS n_docs FROM documents),
         |wt AS (SELECT tf.doc_id, tf.t,
         |    CAST(tf.tfv AS DOUBLE) *
         |      (CAST((SELECT n_docs FROM nd) AS DOUBLE) /
         |       CAST(dfc.df AS DOUBLE)) AS wv
         |  FROM tf JOIN dfc ON tf.t = dfc.t),
         |nrm AS (SELECT doc_id, sqrt(SUM(wv * wv)) AS nrm FROM wt GROUP BY 1),
         |dt AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |    SUM(a.wv * b.wv) AS dot, COUNT(*) AS shared_terms
         |  FROM wt a JOIN wt b ON a.t = b.t AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT a_id, b_id, shared_terms,
         |  round(dot / (x.nrm * y.nrm), 9) AS cos_sim
         |FROM dt JOIN nrm x ON x.doc_id = a_id JOIN nrm y ON y.doc_id = b_id
         |WHERE round(dot / (x.nrm * y.nrm), 9) >= $TfidfTau
         |ORDER BY a_id, b_id""".stripMargin,
    "dedup_shingle_containment" ->
      s"""$baseCte,
         |g AS (SELECT doc_id, unnest(sh) AS g FROM base),
         |dfg AS (SELECT g, COUNT(*) AS df FROM g GROUP BY g),
         |kept AS (SELECT g.doc_id, g.g FROM g JOIN dfg ON g.g = dfg.g
         |         WHERE dfg.df >= 2 AND dfg.df <= $PassageDfCap),
         |na AS (SELECT doc_id, COUNT(*) AS n_kept FROM kept GROUP BY doc_id),
         |pairs AS (SELECT a.doc_id AS contained_id, b.doc_id AS container_id,
         |    COUNT(*) AS shared
         |  FROM kept a JOIN kept b ON a.g = b.g AND a.doc_id <> b.doc_id
         |  GROUP BY 1, 2 HAVING COUNT(*) >= $ContainMinShared)
         |SELECT contained_id, container_id, shared,
         |  CAST(shared AS DOUBLE) / CAST(n_kept AS DOUBLE) AS containment
         |FROM pairs JOIN na ON na.doc_id = contained_id
         |WHERE CAST(shared AS DOUBLE) / CAST(n_kept AS DOUBLE) >= $ContainTau
         |ORDER BY contained_id, container_id""".stripMargin,
    "dedup_shared_passage" ->
      s"""$baseCte,
         |g AS (SELECT doc_id, unnest(sh) AS g FROM base),
         |dfg AS (SELECT g, COUNT(*) AS df FROM g GROUP BY g),
         |kept AS (SELECT g.doc_id, g.g FROM g JOIN dfg ON g.g = dfg.g
         |         WHERE dfg.df >= 2 AND dfg.df <= $PassageDfCap)
         |SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS shared
         |FROM kept a JOIN kept b ON a.g = b.g AND a.doc_id < b.doc_id
         |GROUP BY 1, 2 HAVING COUNT(*) >= $PassageMinShared
         |ORDER BY a_id, b_id""".stripMargin,
    // the histogram reuses the same recursive closure, aggregated twice
    "dedup_cluster_sizes" ->
      s"""${minhashCandCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
         |pairs AS (SELECT a_id, b_id
         |  FROM cand JOIN base x ON x.doc_id = a_id JOIN base y ON y.doc_id = b_id
         |  WHERE $jaccardSql >= $J),
         |edges AS (SELECT a_id, b_id FROM pairs
         |          UNION ALL SELECT b_id, a_id FROM pairs),
         |reach AS (
         |  SELECT DISTINCT a_id AS id, a_id AS r FROM edges
         |  UNION
         |  SELECT t.id, e.b_id FROM reach t JOIN edges e ON e.a_id = t.r),
         |labels AS (SELECT id, MIN(r) AS cluster FROM reach GROUP BY id),
         |sizes AS (SELECT cluster, COUNT(*) AS sz FROM labels GROUP BY cluster)
         |SELECT sz AS cluster_size, COUNT(*) AS n_clusters
         |FROM sizes GROUP BY sz ORDER BY cluster_size""".stripMargin,
    "dedup_contamination_ngram" ->
      s"""$baseCte,
         |g AS (SELECT doc_id,
         |    (${OracleSql.fold32("'split:' || CAST(doc_id AS VARCHAR)")}) % 100 < 90 AS is_train,
         |    unnest(sh) AS g FROM base),
         |bench AS (SELECT DISTINCT g FROM g WHERE NOT is_train)
         |SELECT t.doc_id, COUNT(DISTINCT t.g) AS n_shared
         |FROM g t JOIN bench b ON t.g = b.g
         |WHERE t.is_train
         |GROUP BY t.doc_id ORDER BY doc_id""".stripMargin,
    "dedup_exact_text" ->
      """SELECT md5(text) AS fp, CAST(min(doc_id) AS BIGINT) AS survivor_id,
        |  CAST(count(*) AS BIGINT) AS n_copies
        |FROM documents GROUP BY md5(text) ORDER BY fp""".stripMargin,
    "dedup_jaccard_histogram" ->
      s"""$minhashCandCte
         |SELECT CAST(floor(($jaccardSql) * 20.0) AS BIGINT) AS bucket,
         |  COUNT(*) AS n_pairs
         |FROM cand
         |JOIN base x ON x.doc_id = a_id JOIN base y ON y.doc_id = b_id
         |GROUP BY 1 ORDER BY bucket""".stripMargin,
    "dedup_minhash_band_stats" ->
      s"""$minhashCandCte,
         |bk AS (SELECT b AS band, bkey, COUNT(*) AS k
         |  FROM bands GROUP BY b, bkey)
         |SELECT band, COUNT(*) AS n_buckets,
         |  CAST(SUM(k) AS BIGINT) AS n_docs,
         |  MAX(k) AS max_bucket,
         |  CAST(SUM(CASE WHEN k > 1 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_colliding_buckets,
         |  CAST(SUM(k * (k - 1) // 2) AS BIGINT) AS n_cand_pairs
         |FROM bk GROUP BY band ORDER BY band""".stripMargin,
    "dedup_minhash_lsh" ->
      s"""$minhashCandCte
         |$verifySql""".stripMargin,
    "dedup_editdist_verify" ->
      s"""$minhashCandCte,
         |ver AS (SELECT a_id, b_id FROM cand
         |  JOIN base x ON x.doc_id = a_id JOIN base y ON y.doc_id = b_id
         |  WHERE $jaccardSql >= $J)
         |SELECT a_id, b_id,
         |  CAST(levenshtein(da.text, db.text) AS BIGINT) AS edit_distance,
         |  CAST(GREATEST(len(da.text), len(db.text)) AS BIGINT) AS max_len,
         |  ROUND(1.0 - CAST(levenshtein(da.text, db.text) AS DOUBLE) /
         |    CAST(GREATEST(len(da.text), len(db.text)) AS DOUBLE), 9)
         |    AS edit_similarity
         |FROM ver JOIN documents da ON da.doc_id = a_id
         |JOIN documents db ON db.doc_id = b_id
         |ORDER BY a_id, b_id""".stripMargin,
    "dedup_minhash_error" ->
      s"""$minhashCandCte
         |SELECT a_id, b_id, est_jaccard, jaccard,
         |  abs(est_jaccard - jaccard) AS abs_err
         |FROM (SELECT a_id, b_id,
         |    CAST(len(list_filter(range(1, 9), i -> sa.sig[i] = sb.sig[i]))
         |      AS DOUBLE) / 8.0 AS est_jaccard,
         |    $jaccardSql AS jaccard
         |  FROM cand
         |  JOIN sig sa ON sa.doc_id = a_id JOIN sig sb ON sb.doc_id = b_id
         |  JOIN base x ON x.doc_id = a_id JOIN base y ON y.doc_id = b_id)
         |ORDER BY a_id, b_id""".stripMargin,
    "dedup_cluster_labels" ->
      s"""$minhashCandCte,
         |pairs AS (SELECT a_id, b_id
         |  FROM cand JOIN base x ON x.doc_id = a_id JOIN base y ON y.doc_id = b_id
         |  WHERE $jaccardSql >= $J),
         |edges AS (SELECT a_id AS id, b_id AS nb FROM pairs
         |          UNION ALL SELECT b_id, a_id FROM pairs),
         |l0 AS (SELECT DISTINCT id, id AS lbl FROM edges),
         |l1 AS (SELECT e.id, least(min(n.lbl), min(l.lbl)) AS lbl
         |  FROM edges e JOIN l0 l ON l.id = e.id JOIN l0 n ON n.id = e.nb
         |  GROUP BY e.id),
         |l2 AS (SELECT e.id, least(min(n.lbl), min(l.lbl)) AS lbl
         |  FROM edges e JOIN l1 l ON l.id = e.id JOIN l1 n ON n.id = e.nb
         |  GROUP BY e.id)
         |SELECT id AS doc_id, lbl AS cluster FROM l2 ORDER BY doc_id""".stripMargin,
    "dedup_prefix_jaccard" ->
      s"""$baseCte,
         |pref AS (SELECT doc_id, unnest(list_slice(list_sort(sh), 1,
         |  CAST(floor(${1.0 - J}*len(sh)) AS INTEGER) + 1)) AS p FROM base),
         |cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
         |  FROM pref a JOIN pref b ON a.p = b.p AND a.doc_id < b.doc_id)
         |$verifySql""".stripMargin,
    "dedup_simhash" ->
      s"""$thCte,
         |hv AS (SELECT doc_id, n, th AS vs FROM th0 WHERE n > 0),
         |sim AS (SELECT doc_id, CAST($simhashTerms AS BIGINT) AS sim FROM hv)
         |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |  CAST(bit_count(xor(a.sim, b.sim)) AS INTEGER) AS hamming
         |FROM sim a JOIN sim b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.sim, b.sim)) <= 2
         |ORDER BY a_id, b_id""".stripMargin,
    "dedup_embedding_cosine" ->
      s"""SELECT a.vec_id AS a_id, b.vec_id AS b_id, a.label AS label, $cosSql AS cos
         |FROM embeddings a JOIN embeddings b
         |  ON a.label = b.label AND a.vec_id < b.vec_id
         |WHERE $cosSql >= 0.35
         |ORDER BY a_id, b_id""".stripMargin,
  )
}
