package graft.queries

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables._
import graft.functions.VectorFns._

/** Similarity search over the `embeddings` table: brute-force cosine top-k
  * as the exact baseline, LSH-bucketed ANN as the scale path, per-label
  * centroids, and embedding-cosine near-dup pairs.
  *
  * Scale design: the query set is always the broadcast side; candidates
  * stream partition-parallel. Brute force is O(Q·N) per-row math with a
  * top-k window shuffling k rows per query; the ANN variant first buckets
  * both sides by an 8-bit random-hyperplane signature, so the join touches
  * only same-bucket pairs (~N/256 candidates per query) — the same
  * structure an IVF index gives, expressed as a plain equi-join Catalyst
  * can shuffle-or-broadcast as sizes dictate.
  */
object SimilarityOps {

  private val DIMS = 64
  private val NQ = 8          // query vectors: vec_id < 8
  private val TOPK = 5
  private val PLANES = 4      // hyperplanes per LSH table (bucket = 4 bits)
  private val TABLES = 4      // OR-amplified LSH tables (ANN, s02)
  private val NDTABLES = 8    // OR-amplified LSH tables (near-dup, s11)
  private val NPROBE = 4      // IVF lists probed per query
  private val SUB = 8         // PQ subspaces (SD = DIMS/SUB dims each)

  /** The 16 deterministic seed vectors (vec_id 100–115) that serve as
    * coarse IVF centroids and PQ code sources — ONE definition shared by
    * index build (s05, s10), the k-means refinement loop (s13, s16 via
    * [[lloydChain]]) and serving (s17), so the served index can never
    * drift from the built one. */
  private def seedCentroids(emb: DataFrame): DataFrame = emb
    .filter(col("vec_id").between(100, 115))
    .select(col("vec_id").as("c_id"), col("qv").as("c_qv"),
      col("n2").as("c_n2"))

  /** [[s13]]'s Lloyd step iterated from the seed centroids: assign every
    * vector to its max-cosine centroid (broadcast — bounded by k),
    * replace each centroid with its cluster's SUM vector (cosine is
    * scale-invariant, so sums stand in for means and every coordinate
    * stays an exact integer — the s03/s06/s13 trick), repeat. Returns
    * (final-round members, final centroids (c_id, c_qv, c_n2)). An
    * emptied cluster drops out (no sum vector). Each round is one
    * broadcast crossJoin scan + a (cluster, dim) partial-sum shuffle;
    * the k·DIMS-row centroid table is lineage-truncated per round
    * ([[graft.operators.Iterate.truncate]] — the CC pattern), so round
    * cost stays flat in round count (plan pinned in AnnRefinementSpec).
    * Shared by s16 (the clustering readout) and [[ivfCentroids]] (the
    * refined-index mode of s05/s17). */
  private def lloydChain(emb: DataFrame, rounds: Int)
      : (DataFrame, DataFrame) = {
    var cents = seedCentroids(emb)
    var members: DataFrame = null
    (1 to rounds).foreach { _ =>
      val scored = emb.crossJoin(broadcast(cents))
        .withColumn("cos",
          cosineQ(dotq(col("qv"), col("c_qv")), col("n2"), col("c_n2")))
      val w = Window.partitionBy(col("vec_id"))
        .orderBy(col("cos").desc, col("c_id").asc)
      members = scored.withColumn("rk", row_number().over(w))
        .filter(col("rk") === 1)
        .select(col("c_id"), col("vec_id"), col("qv"))
      // lazy truncate: the chain is consumed by ONE final action, so
      // each round's checkpoint materializes inside that action instead
      // of paying an eager scheduler round-trip per round (r16 A/B:
      // s16 2.74/1.60 vs 2.86/1.88 with s17 across two head-to-heads —
      // marginal but consistently ≥; the plan stays a leaf either way)
      cents = graft.operators.Iterate.truncateLazy(
        sumVecByKey(members, col("c_id"), "c_qv")
          .withColumn("c_n2", norm2q(col("c_qv"))))
    }
    (members, cents)
  }

  /** The IVF coarse quantizer both index build (s05) and serving (s17)
    * read — one definition so built and served lists can never diverge:
    * the deterministic seeds by default, or behind
    * `spark.graft.ann.refinedCentroids` the s16 Lloyd refinement of
    * those same seeds (what an offline index build actually runs before
    * serving; recall is spec-asserted ≥ the seed quantizer's at sf0.01).
    * The PQ codebook stays seed-sourced in both modes — code vectors and
    * coarse centroids are independent knobs (IVFADC). The oracle SQL for
    * s05/s17 is generated from the same conf. */
  private def ivfCentroids(emb: DataFrame): DataFrame =
    if (graft.Conf.flag(emb.sparkSession,
        "spark.graft.ann.refinedCentroids", false))
      lloydChain(emb.select(col("vec_id"), col("qv"), col("n2")),
        LLOYD_ROUNDS)._2
    else seedCentroids(emb)

  /** Top-`top` max-cosine centroid assignment (ties by c_id) — the IVF
    * list/probe step, shared by s05 and s17. The centroid side is 16
    * rows: the crossJoin(broadcast) is the intended per-row argmax over
    * a broadcast list, never a data×data cartesian. */
  private def assignToCentroids(cents: DataFrame, side: DataFrame,
      idCol: String, top: Int): DataFrame = {
    val scored = side.crossJoin(broadcast(cents))
      .withColumn("c_cos",
        cosineQ(dotq(col("qv"), col("c_qv")), col("n2"), col("c_n2")))
    if (top == 1) {
      // the common single-list assignment is a per-key argmax — partial
      // aggregation instead of a Window sort over the k-fanout
      val payload = side.columns.filterNot(_ == idCol) :+ "c_id"
      argmax1(scored, idCol, col("c_cos"), col("c_id"), payload.toSeq)
    } else {
      val w = Window.partitionBy(col(idCol))
        .orderBy(col("c_cos").desc, col("c_id").asc)
      scored.withColumn("crk", row_number().over(w))
        .filter(col("crk") <= top)
        .drop("c_qv", "c_n2", "c_cos", "crk")
    }
  }

  /** Split (vec_id, qv) rows into SUB subvector rows — the PQ subspace
    * view, shared by s10 and s17. */
  private def subspaces(df: DataFrame): DataFrame = {
    val sd = DIMS / SUB
    df.select(col("vec_id"), explode(array((0 until SUB).map(j =>
      struct(lit(j.toLong).as("sub"),
        slice(col("qv"), j * sd + 1, sd).as("sv"))): _*)).as("p"))
      .select(col("vec_id"), col("p.sub").as("sub"), col("p.sv").as("sv"))
  }

  /** Per-subspace PQ codebook from the seed vectors, with code norms —
    * shared by s10 (build + fidelity metric) and s17 (ADC serving). */
  private def pqCodebook(emb: DataFrame): DataFrame =
    subspaces(emb.filter(col("vec_id").between(100, 115)))
      .select(col("vec_id").as("code_id"), col("sub"), col("sv").as("cv"))
      .withColumn("cvn2", norm2q(col("cv")))

  private def withQ(df: DataFrame): DataFrame = {
    graft.functions.DotQ.register(df.sparkSession)
    df.withColumn("qv", qvec(col("embedding")))
      .withColumn("n2", norm2q(col("qv")))
  }

  /** The quantized embedding base — the (vec_id, label, qv, n2)
    * projection every similarity query slices. `pin` materializes it
    * once per query (the similarity-side twin of d03's cached signature
    * table): worth it when MANY branches would otherwise re-run the
    * scan + the qvec/norm chain (the s15 plan embedded FOURTEEN
    * embedding scans before the pin), a net loss when the cache
    * write+read costs more than the 2–3 rescans it saves (PERF_r15:
    * 16/24 s-queries regressed under the unconditional pin, s20 3×) —
    * so each call site declares its own reuse. At 100 TB the pinned
    * form is the materialized quantized table an ANN pipeline keeps
    * beside the index; released per query via Pinned.releaseAll.
    * `spark.graft.sim.embPin` overrides every call site (A/B knob). */
  private def embQ(s: SparkSession, d: String, pin: Boolean = true): DataFrame = {
    val base = withQ(embeddings(s, d))
      .select(col("vec_id"), col("label"), col("qv"), col("n2"))
    val on = graft.Conf.flag(s, "spark.graft.sim.embPin", pin)
    // fan out BEFORE pinning: the cached partitioning IS the parallelism
    // of every downstream crossJoin/band scan over the base (a
    // one-row-group scan would pin one partition and serialize the
    // per-row vector math — s15's truth pass doubled without this)
    if (on) graft.Pinned.pin(graft.Tables.fanOut(base)) else base
  }

  /** Brute-force exact cosine top-k for each query vector. */
  private def s01(s: SparkSession, d: String): DataFrame = {
    val emb = embQ(s, d, pin = false)
    val queries = emb.filter(col("vec_id") < NQ)
      .select(col("vec_id").as("query_id"), col("qv").as("q_qv"),
        col("n2").as("q_n2"))
    val cands = emb.filter(col("vec_id") >= NQ)
      .select(col("vec_id").as("cand_id"), col("qv"), col("n2"))
    val scored = cands.crossJoin(broadcast(queries))
      .withColumn("cos",
        cosineQ(dotq(col("qv"), col("q_qv")), col("n2"), col("q_n2")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("cand_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= TOPK)
      .select(col("query_id"), col("cand_id"), col("rank"), col("cos"))
  }

  /** ANN via multi-table random-hyperplane LSH (OR-amplification): TABLES
    * independent 4-plane tables; a vector is a candidate for a query if
    * they share a bucket in ANY table, then exact cosine re-ranks the
    * distinct candidates. One table of k planes has recall p^k per
    * neighbour (p = 1 − θ/π); L tables lift it to 1 − (1−p^k)^L — the same
    * AND/OR banding trade as MinHash-LSH (d03), with (k, L) as the
    * recall/cost knobs. The band join carries ids only; signatures are
    * 4-bit so buckets stay populated at any corpus size. */
  private def s02(s: SparkSession, d: String): DataFrame = {
    graft.functions.HashSketch.register(s)
    val emb = embQ(s, d, pin = false)
      .withColumn("probe", explode(array((0 until TABLES).map(t =>
        struct(lit(t).as("tab"),
          // fused native signature (one pass over qv for all 4 planes);
          // bit-identical to lshSignature(qv, lshPlanes(..).slice(..))
          graft.functions.HashSketch.lshSig(col("qv"), PLANES, t * PLANES)
            .as("sig"))): _*)))
      .select(col("vec_id"), col("qv"), col("n2"),
        col("probe.tab"), col("probe.sig"))
    val cand = emb.filter(col("vec_id") < NQ)
      .select(col("vec_id").as("query_id"), col("tab"), col("sig"))
      .join(emb.filter(col("vec_id") >= NQ)
        .select(col("vec_id").as("cand_id"), col("tab"), col("sig")),
        Seq("tab", "sig"))
      .select("query_id", "cand_id")
      .dropDuplicates("query_id", "cand_id")
    val side = embQ(s, d, pin = false)
    val scored = cand
      .join(side.select(col("vec_id").as("query_id"), col("qv").as("q_qv"),
        col("n2").as("q_n2")), Seq("query_id"))
      .join(side.select(col("vec_id").as("cand_id"), col("qv"), col("n2")),
        Seq("cand_id"))
      .withColumn("cos",
        cosineQ(dotq(col("qv"), col("q_qv")), col("n2"), col("q_n2")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("cand_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 3)
      .select(col("query_id"), col("cand_id"), col("rank"), col("cos"))
  }

  /** IVF-style ANN: a 16-list inverted file. Coarse "centroids" are a
    * deterministic seed subset of the vectors themselves (vec_id 100–115 —
    * a data-dependent quantizer an offline k-means would refine); every
    * vector is assigned to its max-cosine centroid list, queries probe
    * their top-NPROBE lists and re-rank exactly inside them. The scan
    * per query touches ~NPROBE/16 of the corpus — the IVF structure, with
    * nprobe as the recall/cost knob — and every
    * step is an equi-join or window Catalyst shuffles/broadcasts by size.
    * Complements s02 (LSH) as the second ANN scale path. */
  private def s05(s: SparkSession, d: String): DataFrame = {
    val emb = embQ(s, d, pin = false)
    val cents = ivfCentroids(emb)
    val lists = assignToCentroids(cents,
      emb.filter(col("vec_id") >= NQ)
        .select(col("vec_id").as("cand_id"), col("qv"), col("n2")),
      "cand_id", top = 1)
      .select(col("c_id"), col("cand_id"), col("qv"), col("n2"))
    val probes = assignToCentroids(cents,
      emb.filter(col("vec_id") < NQ)
        .select(col("vec_id").as("query_id"), col("qv"), col("n2")),
      "query_id", top = NPROBE)
      .select(col("c_id"), col("query_id"),
        col("qv").as("q_qv"), col("n2").as("q_n2"))
    val scored = lists.join(broadcast(probes), Seq("c_id"))
      .withColumn("cos",
        cosineQ(dotq(col("qv"), col("q_qv")), col("n2"), col("q_n2")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("cand_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 3)
      .select(col("query_id"), col("cand_id"), col("rank"), col("cos"))
  }

  /** Per-label centroid stats on the quantized grid — integer-exact. */
  private def s03(s: SparkSession, d: String): DataFrame = {
    // single pass over the base — a pin would only add a cache write
    val emb = withQ(embeddings(s, d))
    // one-shuffle form: Σ_pos (Σ_rows q_pos)² is the squared norm of the
    // per-label sum vector, and the per-position row count (qv is
    // fixed-width) equals the label's row count — identical values to
    // the old posexplode → (label, pos) → label two-shuffle rollup
    sumVecByKey(emb, col("label"), "sv",
        extra = Seq(count(lit(1)).as("n_vecs")))
      .select(col("label"), norm2q(col("sv")).as("centroid_norm2"),
        col("n_vecs"))
  }

  /** Embedding-cosine near-duplicate pairs (cos ≥ threshold), all-pairs.
    * The synthetic embeddings contain no true duplicates (max pair cosine
    * ≈0.5–0.6), so the threshold 0.45 exercises the operator on real rows.
    *
    * This is the EXACT AUDIT (O(n²) by definition — the role d05 plays for
    * text dedup): it defines ground truth for the banded scale path (s11)
    * and feeds the recall report (s12). Production pipelines run s11. */
  private def s04(s: SparkSession, d: String): DataFrame =
    s04From(embQ(s, d, pin = false))

  /** s04's exact all-pairs chain over a caller-supplied quantized base —
    * factored so composed consumers (s12, s15) can feed it a SHARED
    * pinned base instead of re-running the scan+qvec chain per branch. */
  private def s04From(emb: DataFrame): DataFrame = {
    val a = emb.select(col("vec_id").as("a_id"), col("qv").as("a_qv"),
      col("n2").as("a_n2"))
    val b = emb.select(col("vec_id").as("b_id"), col("qv").as("b_qv"),
      col("n2").as("b_n2"))
    a.crossJoin(b).filter(col("a_id") < col("b_id"))
      .withColumn("cos",
        cosineQ(dotq(col("a_qv"), col("b_qv")), col("a_n2"), col("b_n2")))
      .filter(col("cos") >= 0.45)
      .select(col("a_id"), col("b_id"), col("cos"))
  }

  /** Nearest-centroid assignment + confusion matrix: every vector is
    * assigned to the label whose centroid it is most cosine-similar to;
    * output is (true label, assigned label, count). Because cosine is
    * scale-invariant, the per-label SUM vector serves as the centroid —
    * no division, every coordinate an exact integer, so the oracle
    * reproduces the doubles bit-for-bit.
    *
    * Scale: centroid build is one posexplode + groupBy (map-side partial),
    * yielding |labels| rows — broadcast-justified by label cardinality
    * (bounded, unlike q33's per-user cohort); assignment is a per-row
    * argmax over the broadcast list, one final shuffle on the (tiny)
    * confusion key. */
  /** Per-label SUM centroids with their norms — shared by s06's
    * confusion matrix and s20's balanced sample so the assignment rule
    * cannot drift between them (cosine is scale-invariant, so the sum
    * vector IS the centroid and every coordinate stays an exact
    * integer). */
  private def labelCentroidsQ(emb: DataFrame): DataFrame =
    sumVecByKey(emb, col("label").as("c_label"), "cqv")
      .withColumn("cn2", norm2q(col("cqv")))

  /** Elementwise sum of the fixed-width `qv` arrays per key, plus any
    * `extra` aggregates, in ONE map-side-combinable shuffle: DIMS
    * per-position `sum(element_at(qv, i))` columns reassembled into an
    * array. Replaces the posexplode → groupBy(key, pos) →
    * collect_list/array_sort rebuild, which multiplies rows by DIMS
    * before the exchange and pays a SECOND shuffle to reassemble.
    * Bit-identical output (long sums per position, array order =
    * position order); partial aggregation reduces each map task to one
    * 64-long row per key before anything moves. */
  private def sumVecByKey(df: DataFrame, key: org.apache.spark.sql.Column,
      out: String,
      extra: Seq[org.apache.spark.sql.Column] = Nil): DataFrame = {
    // try_element_at + zero-fill: dirty inputs may carry short/empty
    // vectors (EmbBoundarySpec), and a position no row has sums to NULL.
    // Zero-filling is value-equivalent to the old posexplode form for
    // every downstream use — a missing position contributes 0 to any
    // dot/norm exactly as a truncated array drops the pair.
    val sums = (0 until DIMS).map(i =>
      coalesce(sum(try_element_at(col("qv"), lit(i + 1))), lit(0L))
        .as(s"__s$i"))
    val aggs = sums ++ extra
    df.groupBy(key)
      .agg(aggs.head, aggs.tail: _*)
      .withColumn(out, array((0 until DIMS).map(i => col(s"__s$i")): _*))
      .drop((0 until DIMS).map(i => s"__s$i"): _*)
  }

  /** Deterministic per-key argmax by (ord DESC, tie ASC) — back to the
    * row_number window after the r16 isolated A/B: r15's max_by(struct
    * payload, struct(ord, -tie)) partial-agg form benched SLOWER on the
    * driver-style meter once the r15 confounders were removed (s06 0.91
    * vs 0.73 s, s20 1.04 vs 0.82 s, s13 0.61 vs 0.57 s) — the per-row
    * struct build/compare costs more than the window sort it avoids.
    * Scale-safe: every caller's fan-out is bounded by the broadcast
    * centroid count (10–16 rows per key), so the per-key sort is a
    * constant-size buffer, never a data-sized straggler. */
  private def argmax1(df: DataFrame, key: String, ord: org.apache.spark.sql.Column,
      tieAsc: org.apache.spark.sql.Column, payload: Seq[String]): DataFrame = {
    val w = Window.partitionBy(col(key)).orderBy(ord.desc, tieAsc.asc)
    df.withColumn("__rk", row_number().over(w)).filter(col("__rk") === 1)
      .select(col(key) +: payload.map(col): _*)
  }

  /** Every vector scored against every centroid, argmax kept (ties to
    * the smaller label): the `(vec_id, label, assigned, cos)` frame both
    * centroid consumers slice. The vec_id window is bounded by |labels|
    * rows per key — never a scale shape. */
  private def nearestCentroidQ(emb: DataFrame): DataFrame =
    argmax1(
      emb.select(col("vec_id"), col("label"), col("qv"), col("n2"))
        .crossJoin(broadcast(labelCentroidsQ(emb)))
        .withColumn("cos",
          cosineQ(dotq(col("qv"), col("cqv")), col("n2"), col("cn2"))),
      "vec_id", col("cos"), col("c_label"),
      Seq("label", "c_label", "cos"))
      .select(col("vec_id"), col("label"), col("c_label").as("assigned"),
        col("cos"))

  private def s06(s: SparkSession, d: String): DataFrame =
    nearestCentroidQ(embQ(s, d, pin = false))
      .groupBy(col("label"), col("assigned"))
      .agg(count(lit(1)).as("n_vecs"))

  /** Banded embedding near-dup pairs — the SCALE PATH for s04 (the batch
    * analog of the streaming `bandVectors` + `detectVecDups` shape in
    * [[graft.streaming.IncrementalDedup]], and of d03's MinHash-LSH for
    * text): band every vector into NDTABLES OR-amplified hyperplane tables
    * (fused single-pass signature), self-join the id-only band table on
    * (table, signature), then verify each distinct candidate with the
    * exact quantized cosine. LSH only PRUNES — every emitted pair passed
    * the same exact test as s04, so s11 ⊆ s04 by construction (spec-
    * asserted) and the only loss is recall (reported by s12).
    *
    * Scale: the band join carries (tab, sig, vec_id) only — no vectors
    * move until the verify join, which touches candidate ids (≈ corpus ·
    * collision rate), not n². With k=4-bit signatures a table has ~n/16
    * rows per bucket worst-case uniform; skewed buckets are bounded by
    * the band-key shuffle (AQE skew split applies). Recall at threshold
    * cos θ: 1 − (1 − p^k)^L for p = 1 − θ/π — k, L are the tuning knobs,
    * chosen here (4, 8) for ~0.8 at the test threshold 0.45; production
    * near-dup thresholds (≥0.9, p ≈ 0.9) give ≥0.98 with the same shape. */
  private def s11(s: SparkSession, d: String): DataFrame =
    s11From(s, embQ(s, d, pin = false))

  /** s11's banded pair chain over a caller-supplied quantized base —
    * the [[s04From]] factoring for the LSH path (s15 pins one base and
    * feeds its own truth pass AND this chain from it). */
  private def s11From(s: SparkSession, emb: DataFrame): DataFrame = {
    graft.functions.HashSketch.register(s)
    val banded = emb.select(col("vec_id"),
      explode(array((0 until NDTABLES).map(t =>
        struct(lit(t).as("tab"),
          graft.functions.HashSketch.lshSig(col("qv"), PLANES, t * PLANES)
            .as("sig"))): _*)).as("p"))
      .select(col("vec_id"), col("p.tab").as("tab"), col("p.sig").as("sig"))
    val cand = banded.as("a")
      .join(banded.as("b"),
        col("a.tab") === col("b.tab") && col("a.sig") === col("b.sig") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("a_id"), col("b.vec_id").as("b_id"))
      .dropDuplicates("a_id", "b_id")
    val side = emb.select(col("vec_id"), col("qv"), col("n2"))
    cand
      .join(side.select(col("vec_id").as("a_id"), col("qv").as("a_qv"),
        col("n2").as("a_n2")), Seq("a_id"))
      .join(side.select(col("vec_id").as("b_id"), col("qv").as("b_qv"),
        col("n2").as("b_n2")), Seq("b_id"))
      .withColumn("cos",
        cosineQ(dotq(col("a_qv"), col("b_qv")), col("a_n2"), col("b_n2")))
      .filter(col("cos") >= 0.45)
      .select(col("a_id"), col("b_id"), col("cos"))
  }

  /** Semantic dedup clusters: connected components over the BANDED
    * embedding near-dup pairs (s11 — the scale path; s04 remains the
    * exact audit) — the embedding-space analog of d06's text clusters.
    * A training pipeline drops every member but min(vec_id) per cluster;
    * the component operator is the same
    * [[graft.operators.ConnectedComponents]] (one shuffle per round). */
  private def s07(s: SparkSession, d: String): DataFrame =
    graft.operators.ConnectedComponents
      .run(s11(s, d), src = "a_id", dst = "b_id")
      .select(col("node").as("vec_id"), col("comp"))

  /** Banded near-dup recall report — s11 (got) against the exact all-pairs
    * audit s04 (truth), the d10/s08 pattern: the metric that drives the
    * (planes, tables) tuning loop. Precision is 1.0 by construction (s11
    * exact-verifies every candidate), so recall_pm is the whole story. */
  private def s12(s: SparkSession, d: String): DataFrame = {
    // shared UNPINNED base: the pinned variant benched 1.81 s vs 1.47 s
    // here (6 refs still lose to the cache write at this base size)
    val emb = embQ(s, d, pin = false)
    recallReport(
      s04From(emb).select(col("a_id"), col("b_id")),
      s11From(s, emb).select(col("a_id"), col("b_id")),
      Seq("a_id", "b_id"))
  }

  /** Per-mille of ids in the s15 recall sample — a session conf so the
    * sample can shrink as the corpus grows (the estimator's variance
    * depends on the SAMPLED PAIR count, not the corpus size: 500‰ of a
    * 128-vector test table and 0.1‰ of a 100 TB corpus both yield
    * thousands of truth pairs). Default 500 matches the embedded oracle. */
  private def recallSamplePm(s: SparkSession): Long =
    graft.Conf.long(s, "spark.graft.similarity.recallSamplePm", 500L)

  private val SAMPLE_SEED = 444

  /** Deterministic id-sample membership — the d15 identity-hash trick:
    * a pure function of vec_id, so any stage recomputes it locally (no
    * assignment table, no join, no shuffle). */
  private def inSample(id: org.apache.spark.sql.Column, pm: Long) =
    graft.functions.Portable.hash60(id.cast("string"), SAMPLE_SEED) % 1000L < pm

  /** SAMPLED-truth banded near-dup recall — the s12 metric made runnable
    * at 100 TB. s12's ground truth is the full O(n²) s04 cartesian, which
    * can never be computed at production scale — so the (planes, tables)
    * tuning loop it feeds would break exactly when it matters. s15
    * replaces the truth side with EXACT truth restricted to a
    * deterministic id sample: broadcast the sampled vectors (the s01
    * query-side shape) against a single partition-parallel corpus scan —
    * O(S·N) per-row math, no shuffle wider than the final count — and
    * score s11's output restricted to pairs touching the sample against
    * it. Each sampled pair is an i.i.d. Bernoulli draw of the same
    * band-collision process as any other pair, so sampled recall is an
    * unbiased estimate of s12's full recall (spec-asserted within
    * binomial error at test scale); n_sample is reported so the
    * denominator behind the estimate is visible. Precision stays 1.0 by
    * construction (s11 exact-verifies every candidate), which the report
    * states as n_tp = n_got. */
  private def s15(s: SparkSession, d: String): DataFrame = {
    val pm = recallSamplePm(s)
    // the ONE pin winner: s15 references the base from the sample,
    // truth, n_sample and (via s11) four band/verify branches — A/B'd
    // at r16: 2.07 s pinned+fanned vs 4.03 s unpinned vs 4.01 s pinned
    // unfanned. Every other s-query measured FASTER unpinned (the
    // cache write+read job costs more than the 2-3 rescans it saves).
    val emb = embQ(s, d)
    val sample = emb.filter(inSample(col("vec_id"), pm))
      .select(col("vec_id").as("s_id"), col("qv").as("s_qv"),
        col("n2").as("s_n2"))
    // exact neighbour truth for sampled ids ONLY: every (sampled, any)
    // pair above threshold, normalized to unordered (a_id < b_id); a
    // pair with BOTH endpoints sampled appears twice before the distinct
    val truth = emb.select(col("vec_id"), col("qv"), col("n2"))
      .crossJoin(broadcast(sample))
      .filter(col("vec_id") =!= col("s_id"))
      .withColumn("cos",
        cosineQ(dotq(col("qv"), col("s_qv")), col("n2"), col("s_n2")))
      .filter(col("cos") >= 0.45)
      .select(least(col("vec_id"), col("s_id")).as("a_id"),
        greatest(col("vec_id"), col("s_id")).as("b_id"))
      .dropDuplicates("a_id", "b_id")
    // s11's pairs restricted to the same universe (≥1 sampled endpoint);
    // membership recomputed from the id — no join against the sample.
    // The chain reads the SAME pinned base as the truth pass (s11From),
    // so its four band/verify branches hit the cache, not the scan.
    val got = s11From(s, emb)
      .filter(inSample(col("a_id"), pm) || inSample(col("b_id"), pm))
      .select(col("a_id"), col("b_id"))
    emb.agg(sum(when(inSample(col("vec_id"), pm), 1L).otherwise(0L))
        .as("n_sample"))
      .crossJoin(recallReport(truth, got, Seq("a_id", "b_id")))
  }

  /** The shared recall-report shape (s08, s12, s15): |truth|, |got|,
    * |got ∩ truth|, and recall in per-mille (1000 on empty truth —
    * nothing to miss). One definition so the empty-truth convention and
    * the integer formula cannot diverge between reports.
    *
    * ONE pass per side: a full-outer join on the pair keys feeds a
    * single aggregate, so each pair-generation chain (banded join /
    * exact audit) is evaluated once. The previous three-aggregate form
    * evaluated each chain twice (own count + semi-join), and persisting
    * instead of restructuring benched SLOWER (cache write+read >
    * recompute — the same result as round 5's shared-shingle-base
    * experiment). Requires both sides key-distinct, which every caller
    * guarantees (dropDuplicates / DISTINCT pair sets). */
  private def recallReport(truth: DataFrame, got: DataFrame,
      keys: Seq[String]): DataFrame =
    truth.select(keys.map(col): _*).withColumn("t", lit(1L))
      .join(got.select(keys.map(col): _*).withColumn("g", lit(1L)),
        keys, "full_outer")
      .agg(
        coalesce(sum(col("t")), lit(0L)).as("n_truth"),
        coalesce(sum(col("g")), lit(0L)).as("n_got"),
        coalesce(sum(col("t") * col("g")), lit(0L)).as("n_tp"))
      .withColumn("recall_pm",
        when(col("n_truth") > 0, expr("(1000L * n_tp) DIV n_truth"))
          .otherwise(1000L))

  /** ANN quality report — recall of the multi-table LSH (s02) against the
    * brute-force top-3 ground truth (s01), gated like d10: the metric that
    * drives the (planes, tables, nprobe) tuning loop in production. */
  private def s08(s: SparkSession, d: String): DataFrame =
    recallReport(
      s01(s, d).filter(col("rank") <= 3).select(col("query_id"), col("cand_id")),
      s02(s, d).select(col("query_id"), col("cand_id")),
      Seq("query_id", "cand_id"))

  /** Embedding-quality screen — the vector-side input validation a
    * training/ANN pipeline runs before indexing: per label, the count of
    * zero-norm vectors (undefined cosine — must be dropped), dimension
    * bounds (ragged arrays break every fused kernel), zero-component
    * totals (sparsity), and integer norm statistics on the quantized grid
    * (exact, so the oracle matches bit-for-bit; no sqrt in the gate).
    * Pure per-row math + one narrow rollup — no shuffle wider than
    * |labels|. */
  private def s09(s: SparkSession, d: String): DataFrame =
    withQ(embeddings(s, d)) // single scan (plan-audited); needs `embedding`
      .withColumn("n_dims", size(col("embedding")).cast("long"))
      .withColumn("n_zero_comp",
        size(filter(col("qv"), x => x === 0L)).cast("long"))
      .groupBy(col("label"))
      .agg(
        count(lit(1)).as("n_vecs"),
        sum(when(col("n2") === 0L, 1L).otherwise(0L)).as("n_zero_norm"),
        min(col("n_dims")).as("min_dims"),
        max(col("n_dims")).as("max_dims"),
        min(col("n2")).as("min_norm2"),
        max(col("n2")).as("max_norm2"),
        sum(col("n2")).as("sum_norm2"),
        sum(col("n_zero_comp")).as("sum_zero_comp"))

  /** Product-quantization assignment — the third classic ANN building
    * block after IVF (s05) and hyperplane LSH (s02): split each vector
    * into SUB subvectors, assign each to its nearest code from a
    * per-subspace codebook (here the deterministic seed vectors s05 also
    * uses — an offline k-means would refine them), and report per
    * (subspace, code) the population and the total quantization error.
    * Distances are integer-exact on the quantized grid (sum of squared
    * component diffs — no sqrt, no division), so the oracle reproduces
    * them bit-for-bit. Shape: the codebook explode is SUB·|codes| rows —
    * broadcast; per-row argmin via one window over (vec_id, sub); one
    * narrow rollup. The PQ code (8 × 4-bit ids per vector) is what a
    * 100 TB ANN index stores instead of 64 floats — 16× compression with
    * the reported sum_dist2 as the fidelity metric. */
  private def s10(s: SparkSession, d: String): DataFrame = {
    val emb = embQ(s, d, pin = false)
    // dist2 via the polarization identity |a|^2 + |b|^2 - 2a.b: norms are
    // computed ONCE per subvector (8/row) instead of once per (sub, code)
    // pair (128/row), and the remaining per-pair work is a single fused
    // DotQ codegen pass — no zip_with array allocation per pair
    val v = subspaces(emb).withColumn("svn2", norm2q(col("sv")))
    val cb = pqCodebook(emb)
    val scored = v.join(broadcast(cb), Seq("sub"))
      .withColumn("dist2",
        col("svn2") + col("cvn2") - lit(2L) * dotq(col("sv"), col("cv")))
    val w = Window.partitionBy(col("vec_id"), col("sub"))
      .orderBy(col("dist2").asc, col("code_id").asc)
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .groupBy(col("sub"), col("code_id"))
      .agg(count(lit(1)).as("n_assigned"), sum(col("dist2")).as("sum_dist2"))
  }

  /** Embedding-dedup survivor accounting — the d08 analogue for vectors,
    * completing the embedding path: s11 banded pairs → s07 components →
    * keep min(vec_id) per cluster, everything unclustered survives by
    * definition. Per-label before/after counts make the semantic-dedup
    * rate visible per class (a skewed drop rate flags label-correlated
    * near-duplication — e.g. one class scraped twice). Same scale shape
    * as d08: the cluster table is ≪ corpus (pairs only), joined back
    * left to the narrow (vec_id, label) projection. */
  private def s14(s: SparkSession, d: String): DataFrame =
    embeddings(s, d).select(col("vec_id"), col("label"))
      .join(s07(s, d), Seq("vec_id"), "left")
      .groupBy(col("label"))
      .agg(
        count(lit(1)).as("n_before"),
        sum(when(col("comp").isNull || col("comp") === col("vec_id"), 1L)
          .otherwise(0L)).as("n_after"))

  /** One k-means (Lloyd) refinement step over the quantized embedding
    * space, seeded from the same deterministic codebook as s05's IVF
    * coarse quantizer (vectors 100–115): assign EVERY vector to its
    * nearest seed by quantized cosine (centroid side broadcast — bounded
    * by k, the s06 reasoning; ties break to the smaller centroid id),
    * then emit per cluster the membership count and integer-exact
    * statistics of the UPDATED centroid: the component total of the new
    * sum-vector and its integer dot ("align") with the old centroid.
    * Sum-vectors stand in for means (cosine is scale-invariant — the
    * s03/s06 trick), so the whole step is division-free and
    * oracle-exact; iterating Lloyd = re-running with the previous
    * sum-vectors as the codebook. Shape at 100 TB: one broadcast
    * crossJoin scan + two narrow shuffles (per-(cluster,dim) partial
    * sums, then per-cluster rollup) — no row ever carries more than one
    * (dim, value) pair into an exchange. */
  private def s13(s: SparkSession, d: String): DataFrame = {
    val emb = embQ(s, d, pin = false)
    val cents = seedCentroids(emb)
    val scored = emb.select(col("vec_id"), col("qv"), col("n2"))
      .crossJoin(broadcast(cents))
      .withColumn("cos",
        cosineQ(dotq(col("qv"), col("c_qv")), col("n2"), col("c_n2")))
    val members = argmax1(scored, "vec_id", col("cos"), col("c_id"),
        Seq("c_id", "qv"))
      .select(col("c_id"), col("vec_id"), col("qv"))
    // membership count + per-position sums in the SAME one-shuffle agg;
    // sum_total / align are per-row integer folds over the 16 summed
    // vectors against the broadcast old centroids — no (c_id, pos)
    // explode, no second shuffle
    sumVecByKey(members, col("c_id"), "sv",
        extra = Seq(count(lit(1)).as("n_members")))
      .join(broadcast(cents.select(col("c_id"), col("c_qv"))), Seq("c_id"))
      .select(col("c_id"), col("n_members"),
        aggregate(col("sv"), lit(0L), (a, x) => a + x).as("sum_total"),
        dotq(col("sv"), col("c_qv")).as("align"))
  }

  private val LLOYD_ROUNDS = 3

  /** Iterated k-means — [[s13]]'s single Lloyd step run LLOYD_ROUNDS
    * times, completing the clustering loop an IVF/PQ index build
    * actually runs: assign every vector to its max-cosine centroid
    * (broadcast — bounded by k), replace each centroid with its
    * cluster's SUM vector (cosine is scale-invariant, so sums stand in
    * for means and every coordinate stays an exact integer — the
    * s03/s06/s13 trick), repeat. Output after the final assignment:
    * per-cluster membership and the integer squared norm of the final
    * sum-centroid. An emptied cluster drops out (no sum vector), same
    * as the oracle's GROUP BY. Scale: each round is one broadcast
    * crossJoin scan + a (cluster, dim) partial-sum shuffle — k·DIMS
    * rows — so round cost is scan-bound; lineage is truncated per round
    * inside [[lloydChain]] (the CC pattern), so the plan stays flat in
    * round count. */
  private def s16(s: SparkSession, d: String): DataFrame = {
    val emb = embQ(s, d, pin = false)
      .select(col("vec_id"), col("qv"), col("n2"))
    val (members, cents) = lloydChain(emb, LLOYD_ROUNDS)
    members.groupBy(col("c_id"))
      .agg(count(lit(1)).as("n_members"))
      .join(cents.select(col("c_id"), col("c_n2").as("centroid_norm2")),
        Seq("c_id"))
  }

  /** Two-stage ANN serving — the production retrieval shape that
    * composes the index structures built by s05 and s10: IVF coarse
    * probe (each candidate lives in its top-1 centroid list, queries
    * probe NPROBE lists), then PQ asymmetric-distance scoring (each
    * candidate is its 8×4-bit code word; per query a SUB×16 lookup
    * table of integer subspace distances prices every probed candidate
    * WITHOUT touching its vector), then exact cosine re-rank of the
    * SHORTLIST best ADC candidates only. This is what an ANN engine
    * actually executes per query at 100 TB: the full vectors are read
    * for SHORTLIST rows per query, not per candidate — everything
    * upstream moves ids, codes, and broadcast-sized tables.
    *
    * SHORTLIST is the serving knob (re-rank depth): at sf0.01 depth 32
    * keeps 10/12 of the IVF probe's findable neighbours (the probe
    * ceiling — s05's own recall — is 12/24 here; PQ can only lose what
    * the probe found). Residual PQ (IVFADC's encode-the-residual
    * refinement) was measured and REJECTED on this data: 0.25/0.29/0.38
    * recall at depth 10/20/32 vs plain PQ's 0.21/0.25/0.42 — the
    * synthetic embeddings carry no low-rank structure for the residual
    * codebook to exploit, so the extra LUT dimension buys nothing.
    *
    * Determinism for the oracle: ADC numerators/norms are integer-exact
    * on the quantized grid (the s10 property), so the shortlist cut
    * (approx cosine DESC, cand_id ASC) is reproducible in SQL; floats
    * appear only in ratio orderings and the final exact-cosine column,
    * as in s01/s02/s05.
    * Scale shape: centroids (16), codebook (128 rows), and the
    * per-query LUT (NQ·8·16 rows) broadcast; candidate codes are 8
    * narrow rows each; the only data-sized shuffles are the id-only
    * IVF list join and the (pairs×8)-row ADC rollup. */
  /** The OFFLINE half of s17 — the four index tables an IVFADC build
    * materializes (coarse centroids, PQ codebook, inverted lists,
    * per-candidate code words). Factored from the serving path so the
    * build can be written to storage and served later
    * ([[graft.operators.AnnIndexStore]] — spec asserts serving from the
    * round-tripped tables is bit-identical to serving the in-memory
    * build). */
  private[graft] def buildAnnIndex(emb: DataFrame): Map[String, DataFrame] = {
    val cents = ivfCentroids(emb)
    val cb = pqCodebook(emb)
    val (lists, codes) =
      encodeCandidates(cents, cb, emb.filter(col("vec_id") >= NQ))
    Map("centroids" -> cents, "codebook" -> cb, "lists" -> lists,
      "codes" -> codes)
  }

  /** The encode step of the offline build, factored so the incremental
    * append runs the IDENTICAL per-candidate assignment: IVF top-1 list
    * membership + per-subspace nearest-code words for `cand` under the
    * given (frozen) quantizer. Per-candidate work is independent of
    * every other candidate, which is what makes append ∪ old = rebuild
    * exact. */
  private[graft] def encodeCandidates(cents: DataFrame, cb: DataFrame,
      cand: DataFrame): (DataFrame, DataFrame) = {
    // IVF: candidates to their top-1 list
    val lists = assignToCentroids(cents,
      cand.select(col("vec_id").as("cand_id"), col("qv"), col("n2")),
      "cand_id", top = 1)
      .select(col("c_id"), col("cand_id"))
    // PQ: each candidate becomes its per-subspace nearest-code word
    val vsub = subspaces(cand)
      .withColumn("svn2", norm2q(col("sv")))
    val wCode = Window.partitionBy(col("vec_id"), col("sub"))
      .orderBy(col("dist2").asc, col("code_id").asc)
    val codes = vsub.join(broadcast(cb), Seq("sub"))
      .withColumn("dist2",
        col("svn2") + col("cvn2") - lit(2L) * dotq(col("sv"), col("cv")))
      .withColumn("rk", row_number().over(wCode))
      .filter(col("rk") === 1)
      .select(col("vec_id").as("cand_id"), col("sub"), col("code_id"),
        col("cvn2"))
    (lists, codes)
  }

  /** Incremental ANN index append — the ingest path an IVFADC deployment
    * runs between offline retrains: NEW vectors are assigned and
    * PQ-encoded under the index's FROZEN quantizer (centroids and
    * codebook untouched), and their rows are unioned into the inverted
    * lists and code tables. Because [[encodeCandidates]] is
    * per-candidate independent, append-then-serve is bit-identical to a
    * full rebuild under the same quantizer (spec-asserted,
    * AnnRefinementSpec). At 100 TB this is the difference between
    * encoding the daily delta and re-encoding the corpus; quantizer
    * drift is handled by the scheduled offline retrain, not by ingest. */
  private[graft] def appendToAnnIndex(index: Map[String, DataFrame],
      newEmb: DataFrame): Map[String, DataFrame] = {
    val (lists, codes) = encodeCandidates(index("centroids"),
      index("codebook"), newEmb.filter(col("vec_id") >= NQ))
    index +
      ("lists" -> index("lists").unionByName(lists)) +
      ("codes" -> index("codes").unionByName(codes))
  }

  /** The ONLINE half of s17: probe, ADC-price, re-rank against the four
    * index tables — whether they came straight from [[buildAnnIndex]]
    * (s17's self-contained form) or were read back from storage. */
  private[graft] def serveAnnIndex(emb: DataFrame,
      index: Map[String, DataFrame]): DataFrame = {
    val SHORTLIST = 32
    val cents = index("centroids")
    val cb = index("codebook")
    val lists = index("lists")
    val codes = index("codes")
    val probes = assignToCentroids(cents,
      emb.filter(col("vec_id") < NQ)
        .select(col("vec_id").as("query_id"), col("qv"), col("n2")),
      "query_id", top = NPROBE)
      .select(col("c_id"), col("query_id"))
    // ADC lookup table: per (query, subspace, code) integer inner
    // product. The shortlist metric must MATCH the final metric —
    // pricing by quantized L2 while re-ranking by cosine silently drops
    // high-norm true neighbours — so ADC approximates the cosine
    // numerator (sum of subspace dots) and normalizes by the
    // RECONSTRUCTED candidate norm (sum of assigned-code norms), both
    // integer-exact on the grid.
    val lut = subspaces(emb.filter(col("vec_id") < NQ))
      .join(broadcast(cb), Seq("sub"))
      .withColumn("qdot", dotq(col("sv"), col("cv")))
      .select(col("vec_id").as("query_id"), col("sub"), col("code_id"),
        col("qdot"))
    val qn = emb.filter(col("vec_id") < NQ)
      .select(col("vec_id").as("query_id"), col("n2").as("q_n2"))
    val adc = lists.join(probes, Seq("c_id"))
      .select(col("query_id"), col("cand_id"))
      .join(codes, Seq("cand_id"))
      .join(broadcast(lut), Seq("query_id", "sub", "code_id"))
      .groupBy(col("query_id"), col("cand_id"))
      .agg(sum(col("qdot")).as("adc_dot"), sum(col("cvn2")).as("recon_n2"))
      .join(broadcast(qn), Seq("query_id"))
      .withColumn("approx_cos",
        cosineQ(col("adc_dot"), col("q_n2"), col("recon_n2")))
    val wShort = Window.partitionBy(col("query_id"))
      .orderBy(col("approx_cos").desc, col("cand_id").asc)
    val short = adc.withColumn("srk", row_number().over(wShort))
      .filter(col("srk") <= SHORTLIST)
      .select(col("query_id"), col("cand_id"))
    // exact re-rank of the shortlist only
    val side = emb.select(col("vec_id"), col("qv"), col("n2"))
    val scored = short
      .join(side.select(col("vec_id").as("query_id"), col("qv").as("q_qv"),
        col("n2").as("q_n2")), Seq("query_id"))
      .join(side.select(col("vec_id").as("cand_id"), col("qv"), col("n2")),
        Seq("cand_id"))
      .withColumn("cos",
        cosineQ(dotq(col("qv"), col("q_qv")), col("n2"), col("q_n2")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("cand_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 3)
      .select(col("query_id"), col("cand_id"), col("rank"), col("cos"))
  }

  private def s17(s: SparkSession, d: String): DataFrame = {
    val emb = embQ(s, d, pin = false)
    serveAnnIndex(emb, buildAnnIndex(emb))
  }

  /** The quantized embedding view build/serve operate on — exposed for
    * the index round-trip spec. */
  private[graft] def annEmb(s: SparkSession, d: String): DataFrame =
    embQ(s, d, pin = false)

  /** SemDeDup-style semantic dedup (cluster-then-prune): assign every
    * embedding to its nearest coarse centroid (the [[ivfCentroids]]
    * quantizer — the refined s16 mode composes in behind the same
    * conf), then search for cosine-near pairs WITHIN each cluster only;
    * a vector is dropped iff a smaller-id near neighbour (cos ≥ 0.45,
    * the s04 threshold) shares its cluster — the deterministic analog
    * of keep-one-per-ε-ball. Output: every vector with its cluster and
    * keep flag, so the full dedup decision (not just survivors) is
    * oracle-pinned.
    *
    * This is the THIRD pruning geometry for the same near-dup relation:
    * s04 is the corpus-wide O(n²) audit, s11 prunes by LSH bands, s18
    * prunes by the cluster structure the IVF index build already
    * computes — within-cluster pairs cost O(Σ n_c²) ≪ n² for balanced
    * clusters, the pair join is keyed on c_id (each cluster an
    * independent shuffle partition; AQE splits a mega-cluster), and
    * like s11 it trades recall (cross-cluster pairs are unseen), which
    * is exactly the SemDeDup bargain. Spec pins both directions of the
    * decision against s04's truth restricted to same-cluster pairs. */
  private def s18(s: SparkSession, d: String): DataFrame = {
    val emb = embQ(s, d, pin = false)
    val assigned = assignToCentroids(ivfCentroids(emb),
      emb.select(col("vec_id"), col("qv"), col("n2")), "vec_id", top = 1)
      .select(col("c_id"), col("vec_id"), col("qv"), col("n2"))
    val dropped = assigned
      .select(col("c_id"), col("vec_id").as("a_id"), col("qv").as("a_qv"),
        col("n2").as("a_n2"))
      .join(assigned.select(col("c_id"), col("vec_id").as("b_id"),
        col("qv").as("b_qv"), col("n2").as("b_n2")), Seq("c_id"))
      .filter(col("a_id") < col("b_id"))
      .withColumn("cos",
        cosineQ(dotq(col("a_qv"), col("b_qv")), col("a_n2"), col("b_n2")))
      .filter(col("cos") >= 0.45)
      .select(col("b_id").as("vec_id")).distinct()
      .withColumn("is_dropped", lit(1L))
    assigned.select(col("c_id"), col("vec_id"))
      .join(dropped, Seq("vec_id"), "left")
      .select(col("vec_id"), col("c_id"),
        when(col("is_dropped").isNotNull, 0L).otherwise(1L).as("keep"))
  }

  /** SemDeDup coverage report — what s18's cluster bargain costs, in the
    * s12 recall-report shape: the s04 near-dup truth split into
    * WITHIN-cluster pairs (all of which s18's within-cluster join sees,
    * so n_within IS the true-positive count) and CROSS-cluster pairs
    * (invisible to s18 by construction — the recall it trades for
    * O(Σ n_c²) cost). One row: n_truth, n_within, n_cross, recall_pm.
    * Metrology query like s12: the truth side is the declared O(n²)
    * audit, run at audit scope (s15's sampled-truth pattern is the
    * production variant of this readout). The cluster quantizer is the
    * SAME conf-switched [[ivfCentroids]] s18 reads, so the report moves
    * with the refined-centroid mode. */
  private def s19(s: SparkSession, d: String): DataFrame = {
    val emb = embQ(s, d, pin = false)
    val truth = s04(s, d).select(col("a_id"), col("b_id"))
    val assigned = assignToCentroids(ivfCentroids(emb),
      emb.select(col("vec_id"), col("qv"), col("n2")), "vec_id", top = 1)
      .select(col("vec_id"), col("c_id"))
    truth
      .join(assigned.select(col("vec_id").as("a_id"), col("c_id").as("a_c")),
        Seq("a_id"))
      .join(assigned.select(col("vec_id").as("b_id"), col("c_id").as("b_c")),
        Seq("b_id"))
      .agg(
        count(lit(1)).as("n_truth"),
        sum(when(col("a_c") === col("b_c"), 1L).otherwise(0L)).as("n_within"),
        sum(when(col("a_c") =!= col("b_c"), 1L).otherwise(0L)).as("n_cross"))
      .withColumn("recall_pm",
        when(col("n_truth") > 0, expr("(1000L * n_within) DIV n_truth"))
          .otherwise(1000L))
  }

  /** Cluster-balanced prototypical sample — the subset-selection step
    * after clustering (the SemDeDup-family "keep the k most central
    * examples per cluster" rule): assign every vector to its nearest
    * label-centroid ([[nearestCentroidQ]], the s06 rule verbatim) and
    * keep each cluster's [[SampleK]] most-similar members, ranked.
    * Emitted columns are ids/ranks only, so the gate hashes exactly
    * even though the ranking score is a double (same integer inputs →
    * same IEEE ops on both engines; ties break on vec_id).
    *
    * Scale shape: the per-cluster top-k runs through
    * [[graft.functions.TopKByScore]] — a bounded typed Aggregator whose
    * partial buffers cap at k entries, so the shuffle carries
    * (#clusters × k) rows with map-side combine. The row_number-window
    * alternative sorts every cluster member through one task; a popular
    * cluster at 100 TB makes that the straggler. PlanAuditSpec pins the
    * partial aggregation. */
  private val SampleK = 5

  /** Filtered kNN — vector search under a metadata predicate (the
    * "filtered ANN" every retrieval stack needs): top-k cosine
    * neighbors among candidates whose label is in [[FilterLabels]],
    * with PRE-filter semantics — the predicate prunes candidates
    * BEFORE the distance math and the rank, so every query still gets
    * k results from the allowed universe. (Post-filtering a plain
    * top-k instead returns < k rows and silently loses recall — the
    * classic filtered-search bug.) The label predicate reaches the
    * parquet scan (PushedFilters, plan-pinned), so at 100 TB the scan
    * itself skips disallowed row groups; the same predicate composes
    * inside s05's probed IVF lists for the sublinear route, since list
    * membership and metadata are independent. */
  private val FilterLabels = Seq(1, 3, 5, 7)

  private def s21(s: SparkSession, d: String): DataFrame = {
    val emb = withQ(embeddings(s, d)
      .filter(col("vec_id") < NQ ||
        col("label").isin(FilterLabels: _*)))
    val queries = emb.filter(col("vec_id") < NQ)
      .select(col("vec_id").as("query_id"), col("qv").as("q_qv"),
        col("n2").as("q_n2"))
    val cands = emb
      .filter(col("vec_id") >= NQ &&
        col("label").isin(FilterLabels: _*))
      .select(col("vec_id").as("cand_id"), col("label"), col("qv"), col("n2"))
    val scored = cands.crossJoin(broadcast(queries))
      .withColumn("cos",
        cosineQ(dotq(col("qv"), col("q_qv")), col("n2"), col("q_n2")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("cand_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= TOPK)
      .select(col("query_id"), col("cand_id"),
        col("label").cast("long").as("label"), col("rank"), col("cos"))
  }

  /** Filtered IVF + recall report — the SUBLINEAR route for s21's
    * predicate, certified: candidate lists build only from
    * allowed-label vectors (the filter composes with list assignment
    * because list membership and metadata are independent — the s21
    * scaladoc claim, delivered), probes are s05's, and the one-row
    * report scores the filtered-IVF top-3 against s21's exact top-3.
    * The centroids come from the FULL corpus ([[ivfCentroids]], shared
    * index geometry): one physical index serves every predicate, which
    * is how filtered ANN deploys — per-predicate indexes don't scale.
    * At 100 TB the filter prunes inside probed lists, so serve cost is
    * |probed ∩ allowed|, and recall_pm is the knob-tuning metric
    * (the s08 discipline). */
  private def s22(s: SparkSession, d: String): DataFrame = {
    val emb = embQ(s, d, pin = false)
    val cents = ivfCentroids(emb)
    val lists = assignToCentroids(cents,
      emb.filter(col("vec_id") >= NQ &&
        col("label").isin(FilterLabels: _*))
        .select(col("vec_id").as("cand_id"), col("qv"), col("n2")),
      "cand_id", top = 1)
      .select(col("c_id"), col("cand_id"), col("qv"), col("n2"))
    val probes = assignToCentroids(cents,
      emb.filter(col("vec_id") < NQ)
        .select(col("vec_id").as("query_id"), col("qv"), col("n2")),
      "query_id", top = NPROBE)
      .select(col("c_id"), col("query_id"),
        col("qv").as("q_qv"), col("n2").as("q_n2"))
    val scored = lists.join(broadcast(probes), Seq("c_id"))
      .withColumn("cos",
        cosineQ(dotq(col("qv"), col("q_qv")), col("n2"), col("q_n2")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("cand_id").asc)
    val got = scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("query_id"), col("cand_id"))
    recallReport(
      s21(s, d).filter(col("rank") <= 3)
        .select(col("query_id"), col("cand_id")),
      got, Seq("query_id", "cand_id"))
  }

  /** Scalar-quantized (int8) index + recall — the third classic index
    * compression after hyperplane LSH bits (s02) and PQ codes (s10/s17):
    * per-dimension [lo, hi] bounds over the candidate set, each
    * component linearly quantized to 8 bits, 8× smaller than the
    * 10⁴-grid longs. Serving is ASYMMETRIC (queries stay full
    * precision, the index reconstructs integer grid points), ranked by
    * cosine on the reconstruction; the one-row report scores SQ top-3
    * against s01's exact truth — the s08/s12/s22 certification
    * discipline, so the compression/recall trade is measured, not
    * assumed. All quantization arithmetic is integer (DIV with the
    * same floor on both engines), so the oracle reproduces the
    * reconstruction bit-for-bit.
    *
    * Scale: the bounds are one 64-row aggregation broadcast back;
    * codes/reconstruction are per-row; scoring is the s01 broadcast
    * shape over the NQ queries. At 100 TB the int8 codes are what the
    * index SHIPS (8× bandwidth/memory), and recall_pm is the knob
    * deciding whether SQ suffices or PQ/rerank is needed. */
  private def s23(s: SparkSession, d: String): DataFrame = {
    val emb = embQ(s, d, pin = false)
    // ragged vectors drop at the index boundary (the s09 screen's
    // documented rule): the reconstruction transform indexes all DIMS
    // positions strictly, unlike the native dotq whose loop bounds by
    // the shorter operand (EmbBoundarySpec caught exactly this)
    val cands = emb.filter(col("vec_id") >= NQ && size(col("qv")) === DIMS)
    val bounds = cands
      .select(posexplode(col("qv")).as(Seq("pos", "q")))
      .groupBy(col("pos"))
      .agg(min(col("q")).as("lo"), max(col("q")).as("hi"))
      .groupBy()
      .agg(
        transform(array_sort(collect_list(struct(col("pos"), col("lo")))),
          x => x.getField("lo")).as("lo"),
        transform(array_sort(collect_list(struct(col("pos"), col("hi")))),
          x => x.getField("hi")).as("hi"))
    val recon = cands.crossJoin(broadcast(bounds))
      .withColumn("rq", expr(
        s"""transform(sequence(0, ${DIMS - 1}), i ->
           |  lo[i] + ((((qv[i] - lo[i]) * 255) DIV greatest(hi[i] - lo[i], 1L))
           |           * (hi[i] - lo[i])) DIV 255)"""
          .stripMargin.replaceAll("\n", " ")))
      .withColumn("rn2", norm2q(col("rq")))
      .select(col("vec_id").as("cand_id"), col("rq"), col("rn2"))
    val queries = emb.filter(col("vec_id") < NQ)
      .select(col("vec_id").as("query_id"), col("qv").as("q_qv"),
        col("n2").as("q_n2"))
    val scored = recon.crossJoin(broadcast(queries))
      .withColumn("cos",
        cosineQ(dotq(col("rq"), col("q_qv")), col("rn2"), col("q_n2")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("cand_id").asc)
    val got = scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("query_id"), col("cand_id"))
    recallReport(
      s01(s, d).filter(col("rank") <= 3)
        .select(col("query_id"), col("cand_id")),
      got, Seq("query_id", "cand_id"))
  }

  private def s20(s: SparkSession, d: String): DataFrame = {
    val topk = udaf(new graft.functions.TopKByScore(SampleK),
      org.apache.spark.sql.Encoders.product[
        graft.functions.TopKByScore.ScoredId])
    nearestCentroidQ(embQ(s, d, pin = false))
      .groupBy(col("assigned"))
      // the product-encoded udaf takes ScoredId's fields positionally
      .agg(topk(col("cos"), col("vec_id"), col("label").cast("long"))
        .as("top"))
      .select(col("assigned"), posexplode(col("top")).as(Seq("i", "e")))
      .select(
        col("assigned").cast("long").as("assigned"),
        (col("i") + 1).cast("long").as("rk"),
        col("e.id").as("vec_id"),
        col("e.payload").as("label"))
  }

  // ---- s24: the delta-dedup lifecycle on the EMBEDDING axis ----
  // d24 (text signatures) and m12 (media fingerprints) keep their
  // dedup state in the IndexGenerations store so tonight's crawl is
  // judged against everything ever admitted; s24 completes the triad
  // for semantic near-dups: the index rows are the distilled
  // (vec_id, qv, n2) quantized vectors (the same representation every
  // s-query verifies with — raw floats never enter the store),
  // candidates come from s11's OR-amplified LSH band join (ids only),
  // and the verify is the exact quantized-grid cosine.

  /** Corpus-calibrated near-dup threshold shared by the s24 batch
    * faces and [[graft.streaming.StoreVecDedup]] — 0.45 matches s11's
    * test-corpus spread so the verdict frame exercises both arms at
    * test scale; production semantic dedup typically runs ≥ 0.9
    * (which only RAISES banding recall: p = 1 − θ/π grows). */
  private[graft] val VecDupCos = 0.45

  /** Distill an embeddings frame into s24 index rows. */
  private[graft] def s24Sig(emb: DataFrame): DataFrame =
    withQ(emb).select(col("vec_id"), col("qv"), col("n2"))

  /** One row per (LSH table, vec) — s11's banding, shared by the
    * verdict join and the streaming bridge's bucket keys. */
  private[graft] def s24Bands(df: DataFrame, as: String): DataFrame = df
    .select(col("vec_id").as(as),
      explode(array((0 until NDTABLES).map(t =>
        struct(lit(t).as("tab"),
          graft.functions.HashSketch.lshSig(col("qv"), PLANES, t * PLANES)
            .as("sig"))): _*)).as("p"))
    .select(col(as), col("p.tab").as("tab"), col("p.sig").as("sig"))

  /** The streaming bucket keys for one sig'd row — one `"tab:sig"`
    * string per LSH table, [[s24Bands]]' keys flattened for
    * [[graft.streaming.StoreVecDedup]]'s per-bucket state (computed
    * per row, no join — a streaming plan cannot afford the id-only
    * band join + rejoin that is right for the batch verdicts). */
  private[graft] def s24BucketCols: Seq[org.apache.spark.sql.Column] =
    (0 until NDTABLES).map(t => concat(lit(s"$t:"),
      graft.functions.HashSketch.lshSig(col("qv"), PLANES, t * PLANES)
        .cast("string")))

  /** Verdicts for a sig'd `delta` frame against a sig'd `index` frame
    * (both carry vec_id, qv, n2) — [[graft.queries.TextDedupOps]]'
    * deltaVerdicts shape on the embedding axis: id-only band join for
    * candidates, exact quantized cosine ≥ [[VecDupCos]] to verify,
    * min-id winner. Embeddings have no separate exact arm — a
    * byte-identical vector has cos 1.0 and is caught by the near arm
    * in every shared bucket. `delta` should be pinned by the caller
    * (three scans). */
  private[graft] def vecDeltaVerdicts(index: DataFrame,
      delta: DataFrame): DataFrame = {
    val cand = s24Bands(delta, "vec_id")
      .join(s24Bands(index, "base_id"), Seq("tab", "sig"))
      .select("vec_id", "base_id")
      .dropDuplicates("vec_id", "base_id")
    val near = cand
      .join(delta.select(col("vec_id"), col("qv").as("d_qv"),
        col("n2").as("d_n2")), Seq("vec_id"))
      .join(index.select(col("vec_id").as("base_id"), col("qv").as("b_qv"),
        col("n2").as("b_n2")), Seq("base_id"))
      .withColumn("cos",
        cosineQ(dotq(col("d_qv"), col("b_qv")), col("d_n2"), col("b_n2")))
      .filter(col("cos") >= VecDupCos)
      .groupBy(col("vec_id"))
      .agg(min(struct(col("base_id"), col("cos"))).as("w"))
      .select(col("vec_id"), col("w.base_id").as("near_winner"),
        col("w.cos").as("near_cos"))
    delta.select(col("vec_id"))
      .join(near, Seq("vec_id"), "left")
      .select(col("vec_id"),
        when(col("near_winner").isNotNull, "near")
          .otherwise("unique").as("verdict"),
        coalesce(col("near_winner"), lit(-1L)).as("winner"),
        coalesce(col("near_cos"), lit(0.0)).as("cos"))
  }

  /** Dedup a night's admitted unique vectors AGAINST EACH OTHER before
    * the index fold — intraUniqueSigs' rule on this axis: keep a vec
    * iff no SMALLER-id unique in the same delta is a banded near-dup
    * of it (min-id, non-transitive, can never drop all copies). */
  private[graft] def intraUniqueQvs(u0: DataFrame): DataFrame = {
    val u = graft.Pinned.pin(u0)
    val drop = s24Bands(u, "vec_id")
      .join(s24Bands(u, "base_id"), Seq("tab", "sig"))
      .filter(col("base_id") < col("vec_id"))
      .select("vec_id", "base_id")
      .dropDuplicates("vec_id", "base_id")
      .join(u.select(col("vec_id"), col("qv").as("d_qv"),
        col("n2").as("d_n2")), Seq("vec_id"))
      .join(u.select(col("vec_id").as("base_id"), col("qv").as("b_qv"),
        col("n2").as("b_n2")), Seq("base_id"))
      .filter(cosineQ(dotq(col("d_qv"), col("b_qv")),
        col("d_n2"), col("b_n2")) >= VecDupCos)
      .select("vec_id").distinct()
    u.join(drop, Seq("vec_id"), "left_anti")
  }

  /** s24 query face — [[DeltaAxis.serve]] on [[DeltaAxis.Vec]], the d24
    * pattern on embeddings: split the corpus by identity hash into base
    * (4/5) and delta (1/5), distill + persist the base index once
    * (`spark.graft.s24.buildIndex=false` skips the build — the nightly
    * posture, serving yesterday's artifact), judge the delta against
    * `readByConf` (honors the `spark.graft.index.readGen` audit pin). */
  private def s24(s: SparkSession, d: String): DataFrame =
    DeltaAxis.Vec.serve(s, embeddings(s, d))

  val queries: ListMap[String, (SparkSession, String) => DataFrame] = ListMap(
    "s01_knn_bruteforce" -> s01 _,
    "s02_ann_lsh" -> s02 _,
    "s03_label_centroids" -> s03 _,
    "s04_embedding_neardup" -> s04 _,
    "s05_ann_ivf" -> s05 _,
    "s06_centroid_assign" -> s06 _,
    "s07_semantic_dedup" -> s07 _,
    "s08_ann_recall_report" -> s08 _,
    "s09_embedding_quality" -> s09 _,
    "s10_pq_assign" -> s10 _,
    "s11_embedding_lsh_pairs" -> s11 _,
    "s12_banded_recall_report" -> s12 _,
    "s13_kmeans_step" -> s13 _,
    "s14_embedding_survivors" -> s14 _,
    "s15_sampled_recall" -> s15 _,
    "s16_kmeans_iterations" -> s16 _,
    "s17_ivf_pq_rerank" -> s17 _,
    "s18_semantic_cluster_dedup" -> s18 _,
    "s19_cluster_recall_report" -> s19 _,
    "s20_balanced_sample" -> s20 _,
    "s21_filtered_knn" -> s21 _,
    "s22_filtered_ivf_recall" -> s22 _,
    "s23_sq_recall" -> s23 _,
    "s24_vec_delta_dedup" -> s24 _,
  )

  // ---- DuckDB oracles ----

  private val qvSql = sqlQvec("embedding")
  private def dot(a: String, b: String) = sqlDotq(a, b, DIMS)

  private val embCte =
    s"""emb AS (
       |  SELECT vec_id, label, $qvSql AS qv FROM embeddings),
       |embn AS (
       |  SELECT vec_id, label, qv, ${dot("qv", "qv")} AS n2 FROM emb)""".stripMargin

  /** s04's all-pairs cosine near-dup SQL — the exact audit; shared
    * verbatim by the s12 recall-report oracle. */
  private val s04Sql: String =
    s"""WITH $embCte
       |SELECT a.vec_id AS a_id, b.vec_id AS b_id,
       |  CAST(${dot("a.qv", "b.qv")} AS DOUBLE)
       |    / (sqrt(CAST(a.n2 AS DOUBLE)) * sqrt(CAST(b.n2 AS DOUBLE))) AS cos
       |FROM embn a JOIN embn b ON a.vec_id < b.vec_id
       |WHERE CAST(${dot("a.qv", "b.qv")} AS DOUBLE)
       |    / (sqrt(CAST(a.n2 AS DOUBLE)) * sqrt(CAST(b.n2 AS DOUBLE))) >= 0.45""".stripMargin

  /** s11's banded near-dup SQL — the scale path; shared verbatim by the
    * s07 semantic-dedup oracle (embedded under a recursive CTE, the
    * d05/d06 pattern) and the s12 recall report. Regenerates the identical
    * MD5-derived hyperplane signatures per table (see
    * [[graft.functions.VectorFns.sqlLshSignature]]). */
  private val s11Sql: String =
    s"""WITH $embCte,
       |banded AS (
       |  SELECT vec_id, t.tab,
       |    CASE t.tab ${(0 until NDTABLES).map(t =>
              s"WHEN $t THEN ${sqlLshSignature("qv", PLANES, DIMS, t * PLANES)}")
              .mkString(" ")} END AS sig
       |  FROM embn, UNNEST([${(0 until NDTABLES).mkString(", ")}]) AS t(tab)),
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
       |  FROM banded a JOIN banded b
       |    ON a.tab = b.tab AND a.sig = b.sig AND a.vec_id < b.vec_id)
       |SELECT cand.a_id, cand.b_id,
       |  CAST(${dot("a.qv", "b.qv")} AS DOUBLE)
       |    / (sqrt(CAST(a.n2 AS DOUBLE)) * sqrt(CAST(b.n2 AS DOUBLE))) AS cos
       |FROM cand
       |JOIN embn a ON a.vec_id = cand.a_id
       |JOIN embn b ON b.vec_id = cand.b_id
       |WHERE CAST(${dot("a.qv", "b.qv")} AS DOUBLE)
       |    / (sqrt(CAST(a.n2 AS DOUBLE)) * sqrt(CAST(b.n2 AS DOUBLE))) >= 0.45""".stripMargin

  private val s01Sql: String =
    s"""WITH $embCte,
       |scored AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
       |    CAST(${dot("c.qv", "q.qv")} AS DOUBLE)
       |      / (sqrt(CAST(c.n2 AS DOUBLE)) * sqrt(CAST(q.n2 AS DOUBLE))) AS cos
       |  FROM embn q JOIN embn c
       |    ON q.vec_id < $NQ AND c.vec_id >= $NQ)
       |SELECT query_id, cand_id, rank, cos FROM (
       |  SELECT query_id, cand_id, cos,
       |    ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY cos DESC, cand_id ASC) AS rank
       |  FROM scored) WHERE rank <= $TOPK""".stripMargin

  private val s02Sql: String =
    s"""WITH $embCte,
       |banded AS (
       |  SELECT vec_id, n2, t.tab,
       |    CASE t.tab ${(0 until TABLES).map(t =>
               s"WHEN $t THEN ${sqlLshSignature("qv", PLANES, DIMS, t * PLANES)}")
               .mkString(" ")} END AS sig
       |  FROM embn, UNNEST([${(0 until TABLES).mkString(", ")}]) AS t(tab)),
       |cand AS (
       |  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS cand_id
       |  FROM banded q JOIN banded c ON q.tab = c.tab AND q.sig = c.sig
       |  WHERE q.vec_id < $NQ AND c.vec_id >= $NQ),
       |scored AS (
       |  SELECT cand.query_id, cand.cand_id,
       |    CAST(${dot("c.qv", "q.qv")} AS DOUBLE)
       |      / (sqrt(CAST(c.n2 AS DOUBLE)) * sqrt(CAST(q.n2 AS DOUBLE))) AS cos
       |  FROM cand
       |  JOIN embn q ON q.vec_id = cand.query_id
       |  JOIN embn c ON c.vec_id = cand.cand_id)
       |SELECT query_id, cand_id, rank, cos FROM (
       |  SELECT query_id, cand_id, cos,
       |    ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY cos DESC, cand_id ASC) AS rank
       |  FROM scored) WHERE rank <= 3""".stripMargin

  /** The Lloyd-round CTE chain (cents_0 … cents_r) — SQL twin of
    * [[lloydChain]] (MATERIALIZED: a re-inlined chain re-evaluates
    * exponentially, the t15 lesson). Each round reproduces s13's argmax
    * + integer sum semantics exactly. Shared by the s16 oracle and the
    * refined-centroid mode of the s05/s17 oracles. */
  private lazy val lloydCtesSql: String = {
    val rounds = (1 to LLOYD_ROUNDS).map { r =>
      val prev = r - 1
      s"""best_$r AS MATERIALIZED (
         |  SELECT vec_id, c_id FROM (
         |    SELECT v.vec_id, c.c_id,
         |      ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY
         |        CAST(${dot("v.qv", "c.cqv")} AS DOUBLE)
         |          / (sqrt(CAST(v.n2 AS DOUBLE)) * sqrt(CAST(c.cn2 AS DOUBLE))) DESC,
         |        c.c_id ASC) AS rk
         |    FROM embn v CROSS JOIN cents_$prev c) WHERE rk = 1),
         |members_$r AS MATERIALIZED (
         |  SELECT b.c_id, v.vec_id, v.qv FROM best_$r b
         |  JOIN embn v USING (vec_id)),
         |dims_$r AS MATERIALIZED (
         |  SELECT m.c_id, r.i, SUM(m.qv[r.i])::BIGINT AS s
         |  FROM members_$r m, range(1, ${DIMS + 1}) AS r(i)
         |  GROUP BY m.c_id, r.i),
         |cents_$r AS MATERIALIZED (
         |  SELECT c_id, cqv, ${dot("cqv", "cqv")} AS cn2 FROM (
         |    SELECT c_id, list(s ORDER BY i) AS cqv
         |    FROM dims_$r GROUP BY c_id))""".stripMargin
    }.mkString(",\n")
    s"""cents_0 AS MATERIALIZED (
       |  SELECT vec_id AS c_id, qv AS cqv, n2 AS cn2 FROM embn
       |  WHERE vec_id BETWEEN 100 AND 115),
       |$rounds""".stripMargin
  }

  private lazy val s16Sql: String =
    s"""WITH $embCte,
       |$lloydCtesSql
       |SELECT c.c_id, m.n_members, c.cn2 AS centroid_norm2
       |FROM cents_$LLOYD_ROUNDS c
       |JOIN (SELECT c_id, COUNT(*) AS n_members
       |      FROM best_$LLOYD_ROUNDS GROUP BY c_id) m USING (c_id)""".stripMargin

  /** SQL twin of [[ivfCentroids]] — the `cents` CTE the s05/s17 oracles
    * read, generated from the ACTIVE session's refinedCentroids conf so
    * a flagged correctness run verifies the refined index. */
  private def centsCteSql: String =
    if (SparkSession.getActiveSession.exists(
        graft.Conf.flag(_, "spark.graft.ann.refinedCentroids", false)))
      s"""$lloydCtesSql,
         |cents AS (
         |  SELECT c_id, cqv AS c_qv, cn2 AS c_n2 FROM cents_$LLOYD_ROUNDS)""".stripMargin
    else
      """cents AS (
        |  SELECT vec_id AS c_id, qv AS c_qv, n2 AS c_n2 FROM embn
        |  WHERE vec_id BETWEEN 100 AND 115)""".stripMargin

  /** SQL twin of [[inSample]] — reads `recallSamplePm` from the ACTIVE
    * session (Verify dumps the oracle JSON while its session is live), so
    * a correctness run under a non-default sample rate verifies instead
    * of reporting false mismatches. */
  private def sqlInSample(idExpr: String): String = {
    val pm = SparkSession.getActiveSession.map(recallSamplePm).getOrElse(500L)
    s"(${graft.functions.Portable.sqlHash60(s"$idExpr::VARCHAR", SAMPLE_SEED)} % 1000 < $pm)"
  }

  def oracle: ListMap[String, String] = ListMap(
    "s01_knn_bruteforce" -> s01Sql,
    "s02_ann_lsh" -> s02Sql,
    "s08_ann_recall_report" ->
      s"""WITH truth AS (
         |  SELECT query_id, cand_id FROM ($s01Sql) WHERE rank <= 3),
         |got AS (SELECT query_id, cand_id FROM ($s02Sql)),
         |tp AS (SELECT query_id, cand_id FROM got
         |       SEMI JOIN truth USING (query_id, cand_id))
         |SELECT
         |  (SELECT COUNT(*) FROM truth) AS n_truth,
         |  (SELECT COUNT(*) FROM got) AS n_got,
         |  (SELECT COUNT(*) FROM tp) AS n_tp,
         |  CASE WHEN (SELECT COUNT(*) FROM truth) > 0
         |       THEN (1000 * (SELECT COUNT(*) FROM tp))
         |              // (SELECT COUNT(*) FROM truth)
         |       ELSE 1000 END AS recall_pm""".stripMargin,
    "s10_pq_assign" ->
      s"""WITH embq AS (SELECT vec_id, $qvSql AS qv FROM embeddings),
         |sub AS (
         |  SELECT vec_id, j AS sub, qv[j*8+1 : j*8+8] AS sv
         |  FROM embq, range(0, 8) r(j)),
         |cb AS (
         |  SELECT vec_id AS code_id, sub, sv AS cv FROM sub
         |  WHERE vec_id BETWEEN 100 AND 115),
         |scored AS (
         |  SELECT v.vec_id, v.sub, cb.code_id,
         |    list_sum(list_transform(range(1, 9),
         |      i -> (v.sv[i] - cb.cv[i]) * (v.sv[i] - cb.cv[i])))::BIGINT
         |      AS dist2
         |  FROM sub v JOIN cb ON cb.sub = v.sub),
         |best AS (
         |  SELECT sub, code_id, dist2,
         |    ROW_NUMBER() OVER (PARTITION BY vec_id, sub
         |      ORDER BY dist2 ASC, code_id ASC) AS rk
         |  FROM scored)
         |SELECT sub, code_id, COUNT(*) AS n_assigned,
         |  SUM(dist2)::BIGINT AS sum_dist2
         |FROM best WHERE rk = 1 GROUP BY sub, code_id""".stripMargin,
    "s09_embedding_quality" ->
      s"""WITH $embCte
         |SELECT label, COUNT(*) AS n_vecs,
         |  SUM(CASE WHEN n2 = 0 THEN 1 ELSE 0 END)::BIGINT AS n_zero_norm,
         |  MIN(len(qv))::BIGINT AS min_dims,
         |  MAX(len(qv))::BIGINT AS max_dims,
         |  MIN(n2)::BIGINT AS min_norm2,
         |  MAX(n2)::BIGINT AS max_norm2,
         |  SUM(n2)::BIGINT AS sum_norm2,
         |  SUM(len(list_filter(qv, x -> x = 0)))::BIGINT AS sum_zero_comp
         |FROM embn GROUP BY label""".stripMargin,
    "s03_label_centroids" ->
      s"""WITH $embCte,
         |dims AS (
         |  SELECT label, i, SUM(qv[i])::BIGINT AS s, COUNT(*) AS n
         |  FROM embn, range(1, ${DIMS + 1}) AS r(i)
         |  GROUP BY label, i)
         |SELECT label, SUM(s * s)::BIGINT AS centroid_norm2,
         |  MAX(n) AS n_vecs
         |FROM dims GROUP BY label""".stripMargin,
    "s05_ann_ivf" ->
      s"""WITH $embCte,
         |$centsCteSql,
         |cand_assign AS (
         |  SELECT c_id, cand_id, qv, n2 FROM (
         |    SELECT c.c_id, v.vec_id AS cand_id, v.qv, v.n2,
         |      ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY
         |        CAST(${dot("v.qv", "c.c_qv")} AS DOUBLE)
         |          / (sqrt(CAST(v.n2 AS DOUBLE)) * sqrt(CAST(c.c_n2 AS DOUBLE))) DESC,
         |        c.c_id ASC) AS crk
         |    FROM embn v CROSS JOIN cents c WHERE v.vec_id >= $NQ)
         |  WHERE crk <= 1),
         |probes AS (
         |  SELECT c_id, query_id, q_qv, q_n2 FROM (
         |    SELECT c.c_id, v.vec_id AS query_id, v.qv AS q_qv, v.n2 AS q_n2,
         |      ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY
         |        CAST(${dot("v.qv", "c.c_qv")} AS DOUBLE)
         |          / (sqrt(CAST(v.n2 AS DOUBLE)) * sqrt(CAST(c.c_n2 AS DOUBLE))) DESC,
         |        c.c_id ASC) AS crk
         |    FROM embn v CROSS JOIN cents c WHERE v.vec_id < $NQ)
         |  WHERE crk <= $NPROBE),
         |scored AS (
         |  SELECT p.query_id, l.cand_id,
         |    CAST(${dot("l.qv", "p.q_qv")} AS DOUBLE)
         |      / (sqrt(CAST(l.n2 AS DOUBLE)) * sqrt(CAST(p.q_n2 AS DOUBLE))) AS cos
         |  FROM cand_assign l JOIN probes p USING (c_id))
         |SELECT query_id, cand_id, rank, cos FROM (
         |  SELECT query_id, cand_id, cos,
         |    ROW_NUMBER() OVER (PARTITION BY query_id
         |      ORDER BY cos DESC, cand_id ASC) AS rank
         |  FROM scored) WHERE rank <= 3""".stripMargin,
    "s04_embedding_neardup" -> s04Sql,
    "s11_embedding_lsh_pairs" -> s11Sql,
    "s12_banded_recall_report" ->
      s"""WITH truth AS (SELECT a_id, b_id FROM ($s04Sql)),
         |got AS (SELECT a_id, b_id FROM ($s11Sql)),
         |tp AS (SELECT a_id, b_id FROM got
         |       SEMI JOIN truth USING (a_id, b_id))
         |SELECT
         |  (SELECT COUNT(*) FROM truth) AS n_truth,
         |  (SELECT COUNT(*) FROM got) AS n_got,
         |  (SELECT COUNT(*) FROM tp) AS n_tp,
         |  CASE WHEN (SELECT COUNT(*) FROM truth) > 0
         |       THEN (1000 * (SELECT COUNT(*) FROM tp))
         |              // (SELECT COUNT(*) FROM truth)
         |       ELSE 1000 END AS recall_pm""".stripMargin,
    "s07_semantic_dedup" ->
      s"""WITH RECURSIVE pairs AS (SELECT a_id, b_id FROM ($s11Sql)),
         |edges AS (
         |  SELECT a_id AS a, b_id AS b FROM pairs
         |  UNION ALL
         |  SELECT b_id AS a, a_id AS b FROM pairs),
         |nodes AS (SELECT DISTINCT a AS node FROM edges),
         |reach(node, label) AS (
         |  SELECT node, node FROM nodes
         |  UNION
         |  SELECT e.b, r.label FROM reach r JOIN edges e ON e.a = r.node)
         |SELECT node AS vec_id, MIN(label) AS comp
         |FROM reach GROUP BY node""".stripMargin,
    "s06_centroid_assign" ->
      s"""WITH $embCte,
         |dims AS (
         |  SELECT label AS c_label, i, SUM(qv[i])::BIGINT AS s
         |  FROM embn, range(1, ${DIMS + 1}) AS r(i)
         |  GROUP BY c_label, i),
         |cents AS (
         |  SELECT c_label, list(s ORDER BY i) AS cqv FROM dims GROUP BY c_label),
         |centn AS (
         |  SELECT c_label, cqv, ${dot("cqv", "cqv")} AS cn2 FROM cents),
         |scored AS (
         |  SELECT v.vec_id, v.label, c.c_label,
         |    CAST(${dot("v.qv", "c.cqv")} AS DOUBLE)
         |      / (sqrt(CAST(v.n2 AS DOUBLE)) * sqrt(CAST(c.cn2 AS DOUBLE))) AS cos
         |  FROM embn v CROSS JOIN centn c),
         |best AS (
         |  SELECT vec_id, label, c_label FROM (
         |    SELECT vec_id, label, c_label,
         |      ROW_NUMBER() OVER (PARTITION BY vec_id
         |        ORDER BY cos DESC, c_label ASC) AS rk
         |    FROM scored) WHERE rk = 1)
         |SELECT label, c_label AS assigned, COUNT(*) AS n_vecs
         |FROM best GROUP BY 1, 2""".stripMargin,
    "s13_kmeans_step" ->
      s"""WITH $embCte,
         |cents AS (
         |  SELECT vec_id AS c_id, qv AS cqv, n2 AS cn2 FROM embn
         |  WHERE vec_id BETWEEN 100 AND 115),
         |scored AS (
         |  SELECT v.vec_id, c.c_id,
         |    CAST(${dot("v.qv", "c.cqv")} AS DOUBLE)
         |      / (sqrt(CAST(v.n2 AS DOUBLE)) * sqrt(CAST(c.cn2 AS DOUBLE))) AS cos
         |  FROM embn v CROSS JOIN cents c),
         |best AS (
         |  SELECT vec_id, c_id FROM (
         |    SELECT vec_id, c_id,
         |      ROW_NUMBER() OVER (PARTITION BY vec_id
         |        ORDER BY cos DESC, c_id ASC) AS rk
         |    FROM scored) WHERE rk = 1),
         |members AS (
         |  SELECT b.c_id, v.vec_id, v.qv FROM best b
         |  JOIN embn v USING (vec_id)),
         |dims AS (
         |  SELECT m.c_id, r.i, SUM(m.qv[r.i])::BIGINT AS s
         |  FROM members m, range(1, ${DIMS + 1}) AS r(i)
         |  GROUP BY m.c_id, r.i),
         |cdims AS (
         |  SELECT c.c_id, r.i, c.cqv[r.i] AS cq
         |  FROM cents c, range(1, ${DIMS + 1}) AS r(i)),
         |stats AS (
         |  SELECT d.c_id, SUM(d.s)::BIGINT AS sum_total,
         |    SUM(d.s * cd.cq)::BIGINT AS align
         |  FROM dims d JOIN cdims cd ON cd.c_id = d.c_id AND cd.i = d.i
         |  GROUP BY d.c_id),
         |counts AS (
         |  SELECT c_id, COUNT(*) AS n_members FROM members GROUP BY c_id)
         |SELECT counts.c_id, counts.n_members, stats.sum_total, stats.align
         |FROM counts JOIN stats USING (c_id)""".stripMargin,
    "s16_kmeans_iterations" -> s16Sql,
    "s17_ivf_pq_rerank" ->
      s"""WITH $embCte,
         |$centsCteSql,
         |cand_assign AS (
         |  SELECT c_id, cand_id FROM (
         |    SELECT c.c_id, v.vec_id AS cand_id,
         |      ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY
         |        CAST(${dot("v.qv", "c.c_qv")} AS DOUBLE)
         |          / (sqrt(CAST(v.n2 AS DOUBLE)) * sqrt(CAST(c.c_n2 AS DOUBLE))) DESC,
         |        c.c_id ASC) AS crk
         |    FROM embn v CROSS JOIN cents c WHERE v.vec_id >= $NQ)
         |  WHERE crk <= 1),
         |probes AS (
         |  SELECT c_id, query_id FROM (
         |    SELECT c.c_id, v.vec_id AS query_id,
         |      ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY
         |        CAST(${dot("v.qv", "c.c_qv")} AS DOUBLE)
         |          / (sqrt(CAST(v.n2 AS DOUBLE)) * sqrt(CAST(c.c_n2 AS DOUBLE))) DESC,
         |        c.c_id ASC) AS crk
         |    FROM embn v CROSS JOIN cents c WHERE v.vec_id < $NQ)
         |  WHERE crk <= $NPROBE),
         |sub AS (
         |  SELECT vec_id, j AS sub, qv[j*8+1 : j*8+8] AS sv
         |  FROM embn, range(0, 8) r(j)),
         |cb AS (
         |  SELECT vec_id AS code_id, sub, sv AS cv FROM sub
         |  WHERE vec_id BETWEEN 100 AND 115),
         |codes AS (
         |  SELECT cand_id, sub, code_id, cvn2 FROM (
         |    SELECT v.vec_id AS cand_id, v.sub, cb.code_id,
         |      list_sum(list_transform(range(1, 9),
         |        i -> cb.cv[i] * cb.cv[i]))::BIGINT AS cvn2,
         |      ROW_NUMBER() OVER (PARTITION BY v.vec_id, v.sub
         |        ORDER BY list_sum(list_transform(range(1, 9),
         |          i -> (v.sv[i] - cb.cv[i]) * (v.sv[i] - cb.cv[i]))) ASC,
         |        cb.code_id ASC) AS rk
         |    FROM sub v JOIN cb ON cb.sub = v.sub WHERE v.vec_id >= $NQ)
         |  WHERE rk = 1),
         |lut AS (
         |  SELECT v.vec_id AS query_id, v.sub, cb.code_id,
         |    list_sum(list_transform(range(1, 9),
         |      i -> v.sv[i] * cb.cv[i]))::BIGINT AS qdot
         |  FROM sub v JOIN cb ON cb.sub = v.sub WHERE v.vec_id < $NQ),
         |adc AS (
         |  SELECT p.query_id, ca.cand_id,
         |    SUM(l.qdot)::BIGINT AS adc_dot,
         |    SUM(co.cvn2)::BIGINT AS recon_n2
         |  FROM cand_assign ca
         |  JOIN probes p USING (c_id)
         |  JOIN codes co ON co.cand_id = ca.cand_id
         |  JOIN lut l ON l.query_id = p.query_id AND l.sub = co.sub
         |    AND l.code_id = co.code_id
         |  GROUP BY 1, 2),
         |shortl AS (
         |  SELECT query_id, cand_id FROM (
         |    SELECT a.query_id, a.cand_id,
         |      ROW_NUMBER() OVER (PARTITION BY a.query_id
         |        ORDER BY CAST(a.adc_dot AS DOUBLE)
         |          / (sqrt(CAST(q.n2 AS DOUBLE)) * sqrt(CAST(a.recon_n2 AS DOUBLE))) DESC,
         |        a.cand_id ASC) AS srk
         |    FROM adc a JOIN embn q ON q.vec_id = a.query_id)
         |  WHERE srk <= 32),
         |scored AS (
         |  SELECT s.query_id, s.cand_id,
         |    CAST(${dot("cv2.qv", "qv2.qv")} AS DOUBLE)
         |      / (sqrt(CAST(cv2.n2 AS DOUBLE)) * sqrt(CAST(qv2.n2 AS DOUBLE))) AS cos
         |  FROM shortl s
         |  JOIN embn qv2 ON qv2.vec_id = s.query_id
         |  JOIN embn cv2 ON cv2.vec_id = s.cand_id)
         |SELECT query_id, cand_id, rank, cos FROM (
         |  SELECT query_id, cand_id, cos,
         |    ROW_NUMBER() OVER (PARTITION BY query_id
         |      ORDER BY cos DESC, cand_id ASC) AS rank
         |  FROM scored) WHERE rank <= 3""".stripMargin,
    "s15_sampled_recall" ->
      s"""WITH $embCte,
         |sample AS (
         |  SELECT vec_id AS s_id, qv AS s_qv, n2 AS s_n2 FROM embn
         |  WHERE ${sqlInSample("vec_id")}),
         |truth AS (
         |  SELECT DISTINCT LEAST(v.vec_id, s.s_id) AS a_id,
         |    GREATEST(v.vec_id, s.s_id) AS b_id
         |  FROM embn v CROSS JOIN sample s
         |  WHERE v.vec_id <> s.s_id
         |    AND CAST(${dot("v.qv", "s.s_qv")} AS DOUBLE)
         |      / (sqrt(CAST(v.n2 AS DOUBLE)) * sqrt(CAST(s.s_n2 AS DOUBLE))) >= 0.45),
         |got AS (
         |  SELECT a_id, b_id FROM ($s11Sql)
         |  WHERE ${sqlInSample("a_id")} OR ${sqlInSample("b_id")}),
         |tp AS (SELECT a_id, b_id FROM got
         |       SEMI JOIN truth USING (a_id, b_id))
         |SELECT
         |  (SELECT COUNT(*) FROM sample) AS n_sample,
         |  (SELECT COUNT(*) FROM truth) AS n_truth,
         |  (SELECT COUNT(*) FROM got) AS n_got,
         |  (SELECT COUNT(*) FROM tp) AS n_tp,
         |  CASE WHEN (SELECT COUNT(*) FROM truth) > 0
         |       THEN (1000 * (SELECT COUNT(*) FROM tp))
         |              // (SELECT COUNT(*) FROM truth)
         |       ELSE 1000 END AS recall_pm""".stripMargin,
    "s14_embedding_survivors" ->
      s"""WITH RECURSIVE pairs AS (SELECT a_id, b_id FROM ($s11Sql)),
         |edges AS (
         |  SELECT a_id AS a, b_id AS b FROM pairs
         |  UNION ALL
         |  SELECT b_id AS a, a_id AS b FROM pairs),
         |nodes AS (SELECT DISTINCT a AS node FROM edges),
         |reach(node, label) AS (
         |  SELECT node, node FROM nodes
         |  UNION
         |  SELECT e.b, r.label FROM reach r JOIN edges e ON e.a = r.node),
         |comp AS (SELECT node AS vec_id, MIN(label) AS comp
         |         FROM reach GROUP BY node)
         |SELECT emb.label, COUNT(*) AS n_before,
         |  SUM(CASE WHEN c.comp IS NULL OR c.comp = emb.vec_id
         |       THEN 1 ELSE 0 END)::BIGINT AS n_after
         |FROM embeddings emb LEFT JOIN comp c ON c.vec_id = emb.vec_id
         |GROUP BY emb.label""".stripMargin,
    // SQL twin of s18: same cents CTE as s05/s17 (conf-sensitive —
    // refined mode verifies end-to-end), same top-1 argmax tiebreak
    // (cos DESC, c_id ASC), same within-cluster smaller-id drop rule.
    "s18_semantic_cluster_dedup" ->
      s"""WITH $embCte,
         |$centsCteSql,
         |assigned AS (
         |  SELECT vec_id, c_id, qv, n2 FROM (
         |    SELECT v.vec_id, c.c_id, v.qv, v.n2,
         |      ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY
         |        CAST(${dot("v.qv", "c.c_qv")} AS DOUBLE)
         |          / (sqrt(CAST(v.n2 AS DOUBLE)) * sqrt(CAST(c.c_n2 AS DOUBLE))) DESC,
         |        c.c_id ASC) AS crk
         |    FROM embn v CROSS JOIN cents c)
         |  WHERE crk = 1),
         |dropped AS (
         |  SELECT DISTINCT b.vec_id
         |  FROM assigned a JOIN assigned b
         |    ON a.c_id = b.c_id AND a.vec_id < b.vec_id
         |  WHERE CAST(${dot("a.qv", "b.qv")} AS DOUBLE)
         |      / (sqrt(CAST(a.n2 AS DOUBLE)) * sqrt(CAST(b.n2 AS DOUBLE))) >= 0.45)
         |SELECT a.vec_id, a.c_id,
         |  (CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END)::BIGINT AS keep
         |FROM assigned a LEFT JOIN dropped d USING (vec_id)""".stripMargin,
    // SQL twin of s19: the s04 truth labelled by the same conf-switched
    // cluster assignment as the s18 oracle, split within/cross.
    "s19_cluster_recall_report" ->
      s"""WITH $embCte,
         |$centsCteSql,
         |assigned AS (
         |  SELECT vec_id, c_id FROM (
         |    SELECT v.vec_id, c.c_id,
         |      ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY
         |        CAST(${dot("v.qv", "c.c_qv")} AS DOUBLE)
         |          / (sqrt(CAST(v.n2 AS DOUBLE)) * sqrt(CAST(c.c_n2 AS DOUBLE))) DESC,
         |        c.c_id ASC) AS crk
         |    FROM embn v CROSS JOIN cents c)
         |  WHERE crk = 1),
         |truth AS (SELECT a_id, b_id FROM ($s04Sql)),
         |lab AS (
         |  SELECT ca.c_id AS a_c, cb.c_id AS b_c
         |  FROM truth t
         |  JOIN assigned ca ON ca.vec_id = t.a_id
         |  JOIN assigned cb ON cb.vec_id = t.b_id)
         |SELECT COUNT(*) AS n_truth,
         |  SUM(CASE WHEN a_c = b_c THEN 1 ELSE 0 END)::BIGINT AS n_within,
         |  SUM(CASE WHEN a_c <> b_c THEN 1 ELSE 0 END)::BIGINT AS n_cross,
         |  CASE WHEN COUNT(*) > 0
         |       THEN (1000 * SUM(CASE WHEN a_c = b_c THEN 1 ELSE 0 END)::BIGINT)
         |              // COUNT(*)
         |       ELSE 1000 END AS recall_pm
         |FROM lab""".stripMargin,
    // SQL twin of s20: s06's assignment CTEs with cos carried through,
    // then top-SampleK per assigned cluster (cos DESC, vec_id ASC — the
    // aggregator's exact ordering; the doubles agree bit-for-bit
    // because both engines divide the same integer dot by the same
    // sqrt products).
    "s20_balanced_sample" ->
      s"""WITH $embCte,
         |dims AS (
         |  SELECT label AS c_label, i, SUM(qv[i])::BIGINT AS s
         |  FROM embn, range(1, ${DIMS + 1}) AS r(i)
         |  GROUP BY c_label, i),
         |cents AS (
         |  SELECT c_label, list(s ORDER BY i) AS cqv FROM dims GROUP BY c_label),
         |centn AS (
         |  SELECT c_label, cqv, ${dot("cqv", "cqv")} AS cn2 FROM cents),
         |scored AS (
         |  SELECT v.vec_id, v.label, c.c_label,
         |    CAST(${dot("v.qv", "c.cqv")} AS DOUBLE)
         |      / (sqrt(CAST(v.n2 AS DOUBLE)) * sqrt(CAST(c.cn2 AS DOUBLE))) AS cos
         |  FROM embn v CROSS JOIN centn c),
         |best AS (
         |  SELECT vec_id, label, c_label, cos FROM (
         |    SELECT vec_id, label, c_label, cos,
         |      ROW_NUMBER() OVER (PARTITION BY vec_id
         |        ORDER BY cos DESC, c_label ASC) AS rk
         |    FROM scored) WHERE rk = 1)
         |SELECT c_label::BIGINT AS assigned, rk::BIGINT AS rk,
         |  vec_id, label::BIGINT AS label
         |FROM (
         |  SELECT c_label, vec_id, label,
         |    ROW_NUMBER() OVER (PARTITION BY c_label
         |      ORDER BY cos DESC, vec_id ASC) AS rk
         |  FROM best)
         |WHERE rk <= ${SampleK}""".stripMargin,
    // SQL twin of s21: s01's exact ranking with the label predicate
    // applied to CANDIDATES before scoring (pre-filter semantics).
    "s21_filtered_knn" -> s21Sql,
    "s23_sq_recall" -> s23Sql,
    // SQL twin of s22: the filtered-IVF hits (s05's CTEs with the label
    // predicate inside the candidate lists) scored against s21's exact
    // top-3 truth, s08's report shape.
    "s22_filtered_ivf_recall" ->
      s"""WITH $embCte,
         |$centsCteSql,
         |truth AS (
         |  SELECT query_id, cand_id FROM ($s21Sql) WHERE rank <= 3),
         |cand_assign AS (
         |  SELECT c_id, cand_id, qv, n2 FROM (
         |    SELECT c.c_id, v.vec_id AS cand_id, v.qv, v.n2,
         |      ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY
         |        CAST(${dot("v.qv", "c.c_qv")} AS DOUBLE)
         |          / (sqrt(CAST(v.n2 AS DOUBLE)) * sqrt(CAST(c.c_n2 AS DOUBLE))) DESC,
         |        c.c_id ASC) AS crk
         |    FROM embn v CROSS JOIN cents c
         |    WHERE v.vec_id >= $NQ
         |      AND v.label IN (${FilterLabels.mkString(", ")}))
         |  WHERE crk <= 1),
         |probes AS (
         |  SELECT c_id, query_id, q_qv, q_n2 FROM (
         |    SELECT c.c_id, v.vec_id AS query_id, v.qv AS q_qv, v.n2 AS q_n2,
         |      ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY
         |        CAST(${dot("v.qv", "c.c_qv")} AS DOUBLE)
         |          / (sqrt(CAST(v.n2 AS DOUBLE)) * sqrt(CAST(c.c_n2 AS DOUBLE))) DESC,
         |        c.c_id ASC) AS crk
         |    FROM embn v CROSS JOIN cents c WHERE v.vec_id < $NQ)
         |  WHERE crk <= $NPROBE),
         |scored AS (
         |  SELECT p.query_id, l.cand_id,
         |    CAST(${dot("l.qv", "p.q_qv")} AS DOUBLE)
         |      / (sqrt(CAST(l.n2 AS DOUBLE)) * sqrt(CAST(p.q_n2 AS DOUBLE))) AS cos
         |  FROM cand_assign l JOIN probes p USING (c_id)),
         |got AS (
         |  SELECT query_id, cand_id FROM (
         |    SELECT query_id, cand_id,
         |      ROW_NUMBER() OVER (PARTITION BY query_id
         |        ORDER BY cos DESC, cand_id ASC) AS rank
         |    FROM scored) WHERE rank <= 3),
         |tp AS (SELECT query_id, cand_id FROM got
         |       SEMI JOIN truth USING (query_id, cand_id))
         |SELECT
         |  (SELECT COUNT(*) FROM truth) AS n_truth,
         |  (SELECT COUNT(*) FROM got) AS n_got,
         |  (SELECT COUNT(*) FROM tp) AS n_tp,
         |  CASE WHEN (SELECT COUNT(*) FROM truth) > 0
         |       THEN (1000 * (SELECT COUNT(*) FROM tp))
         |              // (SELECT COUNT(*) FROM truth)
         |       ELSE 1000 END AS recall_pm""".stripMargin,
    // SQL twin of s24: the d24 delta-dedup CTE shape on embeddings —
    // identity-hash base/delta split, s11's per-table LSH signatures
    // for the candidate join, exact quantized cosine ≥ VecDupCos to
    // verify, min-id winner with arg_min for its cosine.
    "s24_vec_delta_dedup" ->
      s"""WITH $embCte,
         |sp AS (
         |  SELECT vec_id, qv, n2,
         |    (${graft.functions.Portable.sqlHash60("vec_id::VARCHAR",
             DeltaAxis.Vec.splitSeed)}
         |       % 5 = 0) AS is_delta
         |  FROM embn),
         |base AS (SELECT * FROM sp WHERE NOT is_delta),
         |delta AS (SELECT * FROM sp WHERE is_delta),
         |db AS (
         |  SELECT vec_id, t.tab,
         |    CASE t.tab ${(0 until NDTABLES).map(t =>
              s"WHEN $t THEN ${sqlLshSignature("qv", PLANES, DIMS, t * PLANES)}")
              .mkString(" ")} END AS sig
         |  FROM delta, UNNEST([${(0 until NDTABLES).mkString(", ")}]) AS t(tab)),
         |bb AS (
         |  SELECT vec_id AS base_id, t.tab,
         |    CASE t.tab ${(0 until NDTABLES).map(t =>
              s"WHEN $t THEN ${sqlLshSignature("qv", PLANES, DIMS, t * PLANES)}")
              .mkString(" ")} END AS sig
         |  FROM base, UNNEST([${(0 until NDTABLES).mkString(", ")}]) AS t(tab)),
         |cand AS (
         |  SELECT DISTINCT db.vec_id, bb.base_id
         |  FROM db JOIN bb ON db.tab = bb.tab AND db.sig = bb.sig),
         |ver AS (
         |  SELECT c.vec_id, c.base_id,
         |    CAST(${dot("d.qv", "b.qv")} AS DOUBLE)
         |      / (sqrt(CAST(d.n2 AS DOUBLE)) * sqrt(CAST(b.n2 AS DOUBLE))) AS cos
         |  FROM cand c
         |  JOIN delta d ON d.vec_id = c.vec_id
         |  JOIN base b ON b.vec_id = c.base_id),
         |win AS (
         |  SELECT vec_id, MIN(base_id) AS near_winner,
         |    arg_min(cos, base_id) AS near_cos
         |  FROM ver WHERE cos >= $VecDupCos GROUP BY 1)
         |SELECT d.vec_id,
         |  CASE WHEN w.near_winner IS NOT NULL THEN 'near'
         |       ELSE 'unique' END AS verdict,
         |  COALESCE(w.near_winner, -1) AS winner,
         |  COALESCE(w.near_cos, 0.0) AS cos
         |FROM delta d LEFT JOIN win w USING (vec_id)""".stripMargin,
  )

  /** SQL twin of s23: identical integer quantize/reconstruct (the //
    * floor matches DIV on non-negative spans), asymmetric scoring,
    * s08's report shape against the s01 truth. */
  private def s23Sql: String =
    s"""WITH $embCte,
       |cands AS (SELECT vec_id, qv, n2 FROM embn
       |          WHERE vec_id >= $NQ AND len(qv) = $DIMS),
       |b AS (
       |  SELECT i, MIN(qv[i]) AS lo, MAX(qv[i]) AS hi
       |  FROM cands, range(1, ${DIMS + 1}) r(i) GROUP BY i),
       |lohi AS (
       |  SELECT list(lo ORDER BY i) AS lo, list(hi ORDER BY i) AS hi
       |  FROM b),
       |recon AS (
       |  SELECT vec_id AS cand_id,
       |    list_transform(range(1, ${DIMS + 1}), i ->
       |      lo[i] + ((((qv[i] - lo[i]) * 255) // greatest(hi[i] - lo[i], 1))
       |               * (hi[i] - lo[i])) // 255) AS rq
       |  FROM cands, lohi),
       |rn AS (SELECT cand_id, rq, ${dot("rq", "rq")} AS rn2 FROM recon),
       |sq_scored AS (
       |  SELECT q.vec_id AS query_id, r.cand_id,
       |    CAST(${dot("r.rq", "q.qv")} AS DOUBLE)
       |      / (sqrt(CAST(r.rn2 AS DOUBLE)) * sqrt(CAST(q.n2 AS DOUBLE))) AS cos
       |  FROM rn r CROSS JOIN embn q WHERE q.vec_id < $NQ),
       |got AS (
       |  SELECT query_id, cand_id FROM (
       |    SELECT query_id, cand_id,
       |      ROW_NUMBER() OVER (PARTITION BY query_id
       |        ORDER BY cos DESC, cand_id ASC) AS rank
       |    FROM sq_scored) WHERE rank <= 3),
       |truth AS (
       |  SELECT query_id, cand_id FROM ($s01Sql) WHERE rank <= 3),
       |tp AS (SELECT query_id, cand_id FROM got
       |       SEMI JOIN truth USING (query_id, cand_id))
       |SELECT
       |  (SELECT COUNT(*) FROM truth) AS n_truth,
       |  (SELECT COUNT(*) FROM got) AS n_got,
       |  (SELECT COUNT(*) FROM tp) AS n_tp,
       |  CASE WHEN (SELECT COUNT(*) FROM truth) > 0
       |       THEN (1000 * (SELECT COUNT(*) FROM tp))
       |              // (SELECT COUNT(*) FROM truth)
       |       ELSE 1000 END AS recall_pm""".stripMargin

  /** s21's exact filtered ranking — shared by its own oracle entry and
    * the s22 recall twin's truth CTE. */
  private def s21Sql: String =
    s"""WITH $embCte,
       |scored AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
       |    c.label::BIGINT AS label,
       |    CAST(${dot("c.qv", "q.qv")} AS DOUBLE)
       |      / (sqrt(CAST(c.n2 AS DOUBLE)) * sqrt(CAST(q.n2 AS DOUBLE))) AS cos
       |  FROM embn q JOIN embn c
       |    ON q.vec_id < $NQ AND c.vec_id >= $NQ
       |   AND c.label IN (${FilterLabels.mkString(", ")}))
       |SELECT query_id, cand_id, label, rank, cos FROM (
       |  SELECT query_id, cand_id, label, cos,
       |    ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY cos DESC, cand_id ASC) AS rank
       |  FROM scored) WHERE rank <= $TOPK""".stripMargin
}
