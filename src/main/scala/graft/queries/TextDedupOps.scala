package graft.queries

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables._
import graft.functions.Portable._
import graft.functions.TextFns._

/** Text analysis + deduplication over `documents` — the LLM-training-data
  * operators (BASELINE.json north star). Everything per-row is pure Column
  * expressions (no UDFs); shuffles only on hashed group keys.
  *
  * 100 TB design notes:
  *  - exact dedup: shuffle carries (hash, doc_id) pairs only, not text;
  *  - MinHash signatures are computed per-row with higher-order functions —
  *    the usual explode(shingle)→groupBy(min) formulation shuffles
  *    |docs|·|shingles|·k rows, this shuffles zero. LSH banding then joins
  *    docs only within band buckets (candidate pairs ≪ n²); the final
  *    Jaccard verify touches candidate pairs only.
  *  - All thresholds are integer per-mille values: engine-portable, no
  *    float boundary flakes.
  */
object TextDedupOps {

  // private[graft]: graft.streaming.StoreDedup bands with the SAME
  // parameters so stream state buckets and d24's band joins agree
  private[graft] val K = 3          // shingle width (tokens)
  private[graft] val MINHASH_K = 12 // signature length
  private[graft] val BANDS = 4      // 4 bands × 3 rows: jaccard ≳ 0.63
  private[graft] val ROWS = MINHASH_K / BANDS

  /** Tokenized view of any (…, text) frame — the one tokenization
    * definition every stage shares, parameterized over the input so the
    * p01 pipeline can re-tokenize CLEANED text with the same rule. */
  private[graft] def withTokens(docs: DataFrame): DataFrame =
    docs
      .withColumn("toks", tokens(col("text")))
      .withColumn("n_words", size(col("toks")))

  private def docsWithTokens(s: SparkSession, d: String): DataFrame =
    withTokens(documents(s, d))

  // ---- text analysis ----

  private def t01(s: SparkSession, d: String): DataFrame =
    docsWithTokens(s, d)
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_words")).as("sum_words"),
        sum(alphaTokenCount(col("text"))).as("sum_alpha"),
        sum(stopwordCount(col("text"))).as("sum_stop"),
        max(col("n_words")).cast("long").as("max_words"))

  /** Integer quality score (per-mille stopword + alpha-token density),
    * bucketed by centiles. */
  /** The shared quality scoring (stopword+alpha ratio in per-mille) over
    * non-empty docs — ONE definition feeding t02's histogram and t14's
    * percentile gate, so the score formula cannot drift between them
    * (its SQL twin is [[scoredCte]]). */
  private def scoredDocs(s: SparkSession, d: String): DataFrame =
    scoredOf(documents(s, d))

  /** The quality-score chain over an arbitrary (…, text) frame — p01
    * gates CLEANED text with the same formula, so it is
    * input-parameterized like [[d03Pairs]]. */
  private[graft] def scoredOf(docs: DataFrame): DataFrame =
    withTokens(docs)
      .filter(col("n_words") > 0)
      .withColumn("score_pm",
        expr("(1000L * " + stopAlphaSql + ") DIV n_words"))

  private def t02(s: SparkSession, d: String): DataFrame =
    scoredDocs(s, d)
      .withColumn("bucket", expr("score_pm DIV 100"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_words")).as("sum_words"))

  private val stopAlphaSql =
    """(size(filter(filter(split(text, ' '), t -> t != ''),
      |            t -> t IN ('the','a','of','and','to','in','is')))
      | + size(filter(filter(split(text, ' '), t -> t != ''),
      |            t -> t rlike '^[a-zA-Z]{2,}$')))""".stripMargin.replaceAll("\n", " ")

  /** Per-source quality-percentile gate — the C4-style pruning step
    * "drop each source's bottom decile": a per-source 10th-percentile
    * threshold on the integer quality score (DISCRETE percentile, so the
    * threshold is an actual score value and the cross-engine oracle is
    * exact — the q47 parity), then per-source kept/total accounting
    * against it. Per-STRATUM thresholds matter because a global cutoff
    * prunes the weakest source wholesale instead of its weakest tail.
    * Shape at 100 TB: one narrow per-source aggregation (bounded by
    * source cardinality), broadcast of the tiny threshold table back,
    * one scan — no per-doc sort, no global shuffle of text. */
  private def t14(s: SparkSession, d: String): DataFrame = {
    // persisted: the scored projection feeds BOTH the threshold agg and
    // the join probe side — without it the text scan + tokenization runs
    // twice (Spark has no automatic subplan reuse). Narrow columns only.
    val scored = graft.Pinned.pin(scoredDocs(s, d)
      .select(col("source"), col("score_pm")))
    val thr = scored.groupBy(col("source"))
      .agg(expr("percentile_disc(0.1) WITHIN GROUP (ORDER BY score_pm)")
        .cast("long").as("p10"))
    scored.join(broadcast(thr), Seq("source"))
      .groupBy(col("source"), col("p10"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("score_pm") >= col("p10"), 1L).otherwise(0L))
          .as("n_kept"))
  }

  /** Heuristic lang-ID confusion matrix vs the labelled `lang` column. */
  private def t03(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .withColumn("predicted", langId(col("text")))
      .groupBy(col("lang"), col("predicted"))
      .agg(count(lit(1)).as("n_docs"))

  /** Token counting: whitespace vs regex ("BPE-ish") tokenization. */
  private def t04(s: SparkSession, d: String): DataFrame =
    docsWithTokens(s, d)
      .groupBy(col("source"))
      .agg(
        sum(col("n_words")).as("ws_tokens"),
        sum(alphaTokenCount(col("text"))).as("alpha_tokens"),
        sum(length(col("text"))).as("n_bytes"))

  /** Normalized fingerprint dup groups (case/punct-insensitive). Runs
    * over the corpus plus three planted CASE-MANGLED copies
    * (upper-cased text under [[graft.Tables.ProbeShift]]-ed ids), so
    * the oracle comparison proves the normalization actually unifies
    * case variants — the clean corpus alone returns 0 groups, which
    * proves nothing about the positive path. */
  private def t05(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    docs.unionByName(docs.filter(col("doc_id") < 3)
        .withColumn("doc_id", col("doc_id") + lit(graft.Tables.ProbeShift))
        .withColumn("text", upper(col("text"))))
      .groupBy(fingerprint(col("text")).as("fp"))
      .agg(count(lit(1)).as("n_dups"), min(col("doc_id")).as("canonical_id"))
      .filter(col("n_dups") > 1)
  }

  /** Winnowing (rolling-hash) fingerprint overlap — MOSS-style document
    * fingerprinting: per doc, the distinct minima of sliding windows
    * (w=4) over the ordered shingle-hash sequence; pairs whose fingerprint
    * containment ≥ 500‰ of the smaller set. Inverted-index join, same
    * scale shape as d05. */
  private def t06(s: SparkSession, d: String): DataFrame = {
    graft.functions.HashSketch.register(s)
    val W = 4
    val fpTab = documents(s, d)
      // materialize the hash sequence as its own column before windowing:
      // composing the expressions inline would re-evaluate the whole
      // MD5+mix construction inside every per-window lambda reference
      // (O(n²·md5) per row)
      .withColumn("th", tokenHashSeq(col("text")))
      .withColumn("sq", graft.functions.HashSketch.shingleSeq(col("th"), K))
      .withColumn("fps", graft.functions.HashSketch.winnowSet(col("sq"), W))
      .filter(size(col("fps")) > 0)
      .select(col("doc_id"), col("fps"), size(col("fps")).as("n"))
      .transform(graft.Pinned.pin)
    // df>1 prefilter behind the same conf flag as d05 — same trade-off
    val ex0 = fpTab.select(col("doc_id"), explode(col("fps")).as("fp"))
    val ex = if (dfPrefilterOn(s)) dfPrefilter(ex0, "fp") else ex0
    val inter = ex.select(col("doc_id").as("a_id"), col("fp"))
      .join(ex.select(col("doc_id").as("b_id"), col("fp")), Seq("fp"))
      .filter(col("a_id") < col("b_id"))
      .groupBy(col("a_id"), col("b_id"))
      .agg(count(lit(1)).as("inter"))
    val sizes = fpTab.select(col("doc_id"), col("n"))
    inter
      .join(sizes.select(col("doc_id").as("a_id"), col("n").as("na")), Seq("a_id"))
      .join(sizes.select(col("doc_id").as("b_id"), col("n").as("nb")), Seq("b_id"))
      .withColumn("containment_pm",
        expr("(1000L * inter) DIV least(na, nb)"))
      .filter(col("containment_pm") >= 500)
      .select(col("a_id"), col("b_id"), col("containment_pm"))
  }

  /** tf-idf-style distinctive terms per language, on an integer surrogate
    * (tf·10⁶ / df — no transcendental functions, so the oracle matches
    * exactly): explode tokens once, compute per-(lang, token) term counts
    * and per-token document frequency, score, top-3 per lang. The explode
    * shuffles (token) pairs only — the standard distributed tf-idf shape.
    *
    * The per-language top-3 uses the bounded
    * [[graft.functions.TopKByScoreStr]] Aggregator (the s20 pattern), NOT
    * `row_number().over(Window.partitionBy(lang))`: with a handful of
    * languages the window would sort an entire language's vocabulary
    * (10⁷–10⁸ rows at 100 TB) through one task, while the aggregator's
    * map-side partials bound the shuffle at langs × 3 rows. */
  private def t07(s: SparkSession, d: String): DataFrame = {
    // REVERTED to the r14 two-branch shape: r15's shared (token, lang,
    // doc_id) pre-agg added an exchange+agg layer per branch without the
    // claimed ReuseExchange (0.93 → 1.32 s), and pinning the pre-agg
    // (r16 A/B) still benched 1.34 s — the cache write of the exploded
    // token table costs as much as the second tokenize pass it saves.
    // Two cheap scan+explode branches win at every measured scale.
    val tok = documents(s, d)
      .select(col("doc_id"), col("lang"), explode(tokens(col("text"))).as("token"))
    val df_ = tok.groupBy(col("token"))
      .agg(countDistinct(col("doc_id")).as("df"))
    val tf = tok.groupBy(col("lang"), col("token"))
      .agg(count(lit(1)).as("tf"))
    val topk = udaf(new graft.functions.TopKByScoreStr(3),
      org.apache.spark.sql.Encoders.product[
        graft.functions.TopKByScoreStr.Scored])
    tf.join(df_, Seq("token"))
      .withColumn("score", expr("(tf * 1000000L) DIV df"))
      .groupBy(col("lang"))
      // the product-encoded udaf takes Scored's fields positionally
      .agg(topk(col("score"), col("token")).as("top"))
      .select(col("lang"), posexplode(col("top")).as(Seq("i", "e")))
      .select(col("lang"), col("e.id").as("token"),
        col("e.score").as("score"), (col("i") + 1).cast("long").as("rk"))
  }

  // ---- dedup ----

  /** Exact dedup groups by content hash. Runs over
    * [[graft.Tables.documentsWithProbe]] — the corpus plus three
    * planted exact copies — so the oracle comparison proves group
    * formation and min-id canonicalization, not just that a clean
    * corpus has no dups. */
  private def d01(s: SparkSession, d: String): DataFrame =
    graft.Tables.documentsWithProbe(s, d)
      .groupBy(md5(col("text")).as("text_hash"))
      .agg(count(lit(1)).as("n_dups"), min(col("doc_id")).as("canonical_id"))
      .filter(col("n_dups") > 1)

  /** Survivor counts per source after exact dedup (keep min doc_id). */
  private def d02(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(md5(col("text")))
    documents(s, d)
      .withColumn("keeper", min(col("doc_id")).over(w))
      .filter(col("doc_id") === col("keeper"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs_after"))
  }

  /** MinHash + LSH near-dup pairs, Jaccard-verified.
    *
    * numeric shingle sets (one MD5 per token, see
    * [[graft.functions.TextFns.shingleSetFromHashes]]) → 12 minhashes by XOR
    * mixing → 4 band keys → id-only self-join on band key → distinct
    * candidate pairs → fetch shingle sets for candidates only → exact
    * Jaccard ≥ 500‰.
    *
    * The signature table is cached: the band self-join and both verify
    * joins read it instead of recomputing the hash chain (at cluster scale
    * this is the materialized signature table every LSH pipeline keeps).
    * Only doc_ids travel through the band join; shingle sets are joined
    * back for the (few) candidate pairs. */
  private def d03(s: SparkSession, d: String): DataFrame =
    d03Pairs(s, documents(s, d))

  /** d03's LSH pair chain over an arbitrary (doc_id, text, …) frame —
    * p01 decontaminates over CLEANED text, so the pair source must be
    * input-parameterized; `d03` is the documents-table instance. */
  private[graft] def d03Pairs(s: SparkSession, docs: DataFrame): DataFrame = {
    graft.functions.HashSketch.register(s)
    val sigd = docs
      .withColumn("th", tokenHashSeq(col("text")))
      .withColumn("hs",
        array_distinct(graft.functions.HashSketch.shingleSeq(col("th"), K)))
      .filter(size(col("hs")) > 0)
      .withColumn("sig", graft.functions.HashSketch.minhashSig(col("hs"), MINHASH_K))
      .select(col("doc_id"), col("hs"), col("sig"))
      .transform(graft.Pinned.pin)
    d03PairsFrom(sigd)
  }

  /** The LSH band-join + verify tail over a PREPARED (doc_id, hs, sig)
    * table — factored so a composed consumer (d10 runs the LSH chain
    * beside the exact chain over the SAME shingle sets) can feed both
    * from one pinned base instead of tokenizing and shingling the
    * corpus twice. */
  private def d03PairsFrom(sigd: DataFrame): DataFrame = {
    val banded = sigd.select(
      col("doc_id"),
      explode(array((0 until BANDS).map(b =>
        bandKey(col("sig"), b, ROWS)): _*)).as("band_key"))
    val cand = banded.select(col("doc_id").as("a_id"), col("band_key"))
      .join(banded.select(col("doc_id").as("b_id"), col("band_key")),
        Seq("band_key"))
      .filter(col("a_id") < col("b_id"))
      .select("a_id", "b_id")
      .dropDuplicates("a_id", "b_id")
    val ss = sigd.select(col("doc_id"), col("hs"))
    cand
      .join(ss.select(col("doc_id").as("a_id"), col("hs").as("a_ss")), Seq("a_id"))
      .join(ss.select(col("doc_id").as("b_id"), col("hs").as("b_ss")), Seq("b_id"))
      .withColumn("inter", size(array_intersect(col("a_ss"), col("b_ss"))))
      .withColumn("uni",
        size(col("a_ss")) + size(col("b_ss")) - col("inter"))
      .withColumn("jaccard_pm", expr("(1000L * inter) DIV uni"))
      .filter(col("jaccard_pm") >= 500)
      .select(col("a_id"), col("b_id"), col("jaccard_pm"))
  }

  /** SimHash(16) exact-bucket near-dups. */
  private def d04(s: SparkSession, d: String): DataFrame = {
    graft.functions.HashSketch.register(s)
    documents(s, d)
      .withColumn("hb", // fused native per-token hashing (full 60 bits)
        graft.functions.HashSketch.tokenHashSeq(col("text"), 999, 0L))
      // empty hb <=> zero tokens: filtering on it avoids a second
      // tokenization pass (the old n_words filter re-split the text)
      .filter(size(col("hb")) > 0)
      .withColumn("sh", graft.functions.HashSketch.simhashBits(col("hb"), 16))
      .groupBy(col("sh"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("canonical_id"))
      .filter(col("n_docs") > 1)
  }

  /** Exact all-pairs n-gram Jaccard via inverted index — the ground truth
    * d03's LSH approximates (same shingles, same 500‰ threshold, no
    * banding, no sampling). Explode (doc, shingle), self-join on shingle,
    * count hits per pair = |A∩B| exactly; pairs sharing zero shingles
    * never materialize, so the join output is Σ_sh cnt(sh)² instead of
    * n²·|shingle| — the formulation that survives scale-up. The ScalaTest
    * asserts d03's LSH output is a subset of this exact result. */
  /** The 100 TB df>1 prefilter as an executable switch (spark conf
    * `spark.graft.dedup.dfPrefilter`): singleton keys cannot pair, and at
    * billions of docs MOST shingles/fingerprints are singletons, so
    * dropping them before the inverted-index self-join collapses the
    * join's Σ cnt(k)² cost — at the price of one extra groupBy+semi-join
    * pass over the exploded keys. Result-identical by construction (a
    * df=1 key contributes zero pairs); the gate-equality spec and the
    * measured sf0.01/sf0.1 crossover live in DedupInvariantSpec and
    * IMPLEMENTATION.md. Default off: below the crossover the extra
    * aggregation costs more than the join it saves. */
  private def dfPrefilterOn(s: SparkSession): Boolean =
    graft.Conf.flag(s, "spark.graft.dedup.dfPrefilter", false)

  /** Keep only keys appearing in ≥2 docs (left-semi against the df>1 key
    * set — degrades to a shuffle semi-join when the key set outgrows
    * broadcast, same reasoning as d12's contamination semi-join). */
  private def dfPrefilter(ex: DataFrame, key: String): DataFrame =
    ex.join(
      ex.groupBy(key).agg(count(lit(1)).as("df"))
        .filter(col("df") > 1).select(key),
      Seq(key), "left_semi")

  // fanOut at the raw-scan entry: d05's shingle build + inverted-index
  // explode is the expensive per-row pass and a one-row-group scan runs
  // it one-wide. Applied at the QUERY entry, not inside d05Pairs —
  // p01/p03 feed that chain mid-pipeline frames that are already wide,
  // where the guard's plan probe would only add planning cost. Same-
  // subset A/B (r16): d05 1.51 vs 1.77 s, d06 1.74 vs 1.96, d14 1.65 vs
  // 1.95 with/without; the sibling entries (d03, d10, t18, t19, t22,
  // d21, t07) measured FLAT or WORSE with the floor and stay unfanned.
  private def d05(s: SparkSession, d: String): DataFrame =
    d05Pairs(s, graft.Tables.fanOut(documents(s, d)))

  /** d05's exact inverted-index pair chain, input-parameterized like
    * [[d03Pairs]] (the `leakage.exactPairs` switch must work inside the
    * p01 pipeline too). */
  private[graft] def d05Pairs(s: SparkSession, docs: DataFrame): DataFrame = {
    graft.functions.HashSketch.register(s)
    val hsTab = docs
      .withColumn("th", tokenHashSeq(col("text")))
      .withColumn("hs",
        array_distinct(graft.functions.HashSketch.shingleSeq(col("th"), K)))
      .filter(size(col("hs")) > 0)
      .select(col("doc_id"), col("hs"), size(col("hs")).as("n"))
      .transform(graft.Pinned.pin)
    d05PairsFrom(hsTab)
  }

  /** The exact inverted-index tail over a PREPARED (doc_id, hs, n)
    * table — the [[d03PairsFrom]] factoring for the exact chain. */
  private def d05PairsFrom(hsTab: DataFrame): DataFrame = {
    val s = hsTab.sparkSession
    // df>1 prefilter behind the conf flag above. Default-off on merit,
    // twice measured: (round 4) the groupBy(shingle)+collect_list pair
    // generation — one fewer exchange on paper — benched 2.4 s vs this
    // join's 2.1 s at sf0.1; (round 5) the semi-filtered join is neutral
    // for d05 through sf0.1 (3.02 s both ways; few shingles are
    // singletons here) while t06 crosses over between sf0.01 (+0.6 s)
    // and sf0.1 (−0.4 s) — numbers in IMPLEMENTATION.md §Scale.
    val ex0 = hsTab.select(col("doc_id"), explode(col("hs")).as("shingle"))
    val ex = if (dfPrefilterOn(s)) dfPrefilter(ex0, "shingle") else ex0
    val inter = ex.select(col("doc_id").as("a_id"), col("shingle"))
      .join(ex.select(col("doc_id").as("b_id"), col("shingle")), Seq("shingle"))
      .filter(col("a_id") < col("b_id"))
      .groupBy(col("a_id"), col("b_id"))
      .agg(count(lit(1)).as("inter"))
    val sizes = hsTab.select(col("doc_id"), col("n"))
    inter
      .join(sizes.select(col("doc_id").as("a_id"), col("n").as("na")), Seq("a_id"))
      .join(sizes.select(col("doc_id").as("b_id"), col("n").as("nb")), Seq("b_id"))
      .withColumn("jaccard_pm",
        expr("(1000L * inter) DIV (na + nb - inter)"))
      .filter(col("jaccard_pm") >= 500)
      .select(col("a_id"), col("b_id"), col("jaccard_pm"))
  }

  /** SimHash near-dups at hamming distance ≤ 3 — the multi-probe variant
    * of d04 (which only catches distance 0). Pigeonhole banding: split a
    * 48-bit simhash into 4 12-bit bands; any pair within distance 3 agrees
    * on ≥1 band, so an equi-join per band yields all candidates, and
    * `bit_count(xor)` verifies exactly. Same scale shape as MinHash-LSH:
    * the join carries (doc_id, band-chunk) only, candidates ≪ n². Band
    * width is the selectivity knob — 12 bits = 4096 bucket values, so
    * buckets stay small as the corpus grows (16-bit simhash with 4-bit
    * nibbles floods the join with ~n²/16 candidates; measured 10.2 s →
    * 0.9 s at sf0.1 from this choice alone). */
  private def d07(s: SparkSession, d: String): DataFrame = {
    graft.functions.HashSketch.register(s)
    val sh = documents(s, d)
      .withColumn("hb", // fused native per-token hashing (full 60 bits)
        graft.functions.HashSketch.tokenHashSeq(col("text"), 999, 0L))
      .filter(size(col("hb")) > 0)
      .withColumn("sh", graft.functions.HashSketch.simhashBits(col("hb"), 48))
      .select(col("doc_id"), col("sh"))
      .transform(graft.Pinned.pin)
    val banded = sh.select(col("doc_id"), col("sh"),
      explode(array((0 until 4).map(b =>
        struct(lit(b).as("band"),
          shiftright(col("sh"), b * 12).bitwiseAND(lit(0xFFFL)).as("nib"))): _*))
        .as("bk"))
      .select(col("doc_id"), col("sh"), col("bk.band"), col("bk.nib"))
    banded.select(col("doc_id").as("a_id"), col("sh").as("a_sh"),
        col("band"), col("nib"))
      .join(banded.select(col("doc_id").as("b_id"), col("sh").as("b_sh"),
        col("band"), col("nib")), Seq("band", "nib"))
      .filter(col("a_id") < col("b_id"))
      .select("a_id", "b_id", "a_sh", "b_sh")
      .dropDuplicates("a_id", "b_id")
      .withColumn("hamming",
        bit_count(col("a_sh").bitwiseXOR(col("b_sh"))).cast("long"))
      .filter(col("hamming") <= 3)
      .select(col("a_id"), col("b_id"), col("hamming"))
  }

  /** Near-dup CLUSTERS from near-dup pairs: connected components over the
    * exact-Jaccard pair graph (d05). Components, not pairs, are what a
    * dedup pass acts on — min(doc_id) per component is the canonical
    * survivor and everything else is droppable. The iterative
    * min-label-propagation operator is [[graft.operators.ConnectedComponents]];
    * the oracle replays reachability with a recursive CTE. */
  private def d06(s: SparkSession, d: String): DataFrame =
    graft.operators.ConnectedComponents
      .run(d05(s, d), src = "a_id", dst = "b_id")
      .select(col("node").as("doc_id"), col("comp"))

  /** Duplicate-aware sampling weights — SOFT dedup: instead of dropping
    * non-canonical cluster members (d08's hard path), every doc gets
    * weight 1000/|its near-dup cluster| per-mille (unclustered docs
    * weigh 1000‰), so each cluster contributes ~one document's worth of
    * training mass however large it is — the repetition-discounting
    * move sampling-based pipelines use where hard dropping would lose
    * the cluster's internal variation. Integer per-mille weights keep
    * the oracle exact. Per-source rollup: doc count, effective size
    * (Σ weights — the number a mixture planner actually feeds d13),
    * and the minimum weight. Weights floor at 1‰ so a cluster larger
    * than 1000 docs still contributes ~csize/1000 docs of mass instead
    * of vanishing (0-weight would be HARSHER than d08's hard drop,
    * which keeps one full-weight survivor). Built on the SAME cluster
    * definition as d08 ([[lshComponents]], the d03 LSH pipeline path —
    * d05 stays the audit), so hard and soft dedup agree on what a
    * cluster is. Scale shape: component labeling plus two narrow joins
    * on doc_id — the weight table is pairs-sized, ≪ corpus. */
  private def d17(s: SparkSession, d: String): DataFrame = {
    val comp = lshComponents(s, d)
    val sizes = comp.groupBy(col("comp")).agg(count(lit(1)).as("csize"))
    val weights = comp.join(sizes, Seq("comp"))
      .select(col("doc_id"),
        greatest(expr("1000L DIV csize"), lit(1L)).as("w_pm"))
    documents(s, d).select(col("doc_id"), col("source"))
      .join(weights, Seq("doc_id"), "left")
      .withColumn("w_pm", coalesce(col("w_pm"), lit(1000L)))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("w_pm")).as("eff_pm"),
        min(col("w_pm")).as("min_w_pm"))
  }

  /** Duplicate-cluster SIZE HISTOGRAM — the shape report a dedup pipeline
    * reads before choosing its strategy: many pairs (size 2) vs a few
    * giant boilerplate clusters change both the expected dedup rate and
    * the component algorithm's skew profile (one mega-cluster = one hot
    * reducer). Built on d06's components; two narrow rollups after the
    * component labeling. */
  private def d14(s: SparkSession, d: String): DataFrame =
    d06(s, d)
      .groupBy(col("comp")).agg(count(lit(1)).as("cluster_size"))
      .groupBy(col("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"))

  /** Near-dup dedup SURVIVOR selection — the step that turns d06's clusters
    * into a cleaned corpus: within each near-dup component keep the min
    * doc_id (the canonical survivor), drop the rest; docs in no component
    * survive untouched. Built on the d03 LSH pairs (the scale path — at
    * 100 TB the exact all-pairs d05 is the audit, LSH is the pipeline).
    * Output: per-source before/after counts — the dedup-rate report every
    * training-data pipeline ships with. */
  /** Component labeling over the LSH pipeline pairs (d03) — ONE
    * definition shared by d08's hard dedup and d17's soft weights, so
    * the two strategies can never disagree on what a cluster is. */
  private def lshComponents(s: SparkSession, d: String): DataFrame =
    graft.operators.ConnectedComponents
      .run(d03(s, d), src = "a_id", dst = "b_id")
      .select(col("node").as("doc_id"), col("comp"))

  private def d08(s: SparkSession, d: String): DataFrame = {
    val comp = lshComponents(s, d)
    documents(s, d)
      .join(comp, Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_before"),
        sum(when(col("comp").isNull || col("comp") === col("doc_id"), 1L)
          .otherwise(0L)).as("n_after"))
  }

  /** Quality-aware survivor selection — d08 with the canonical copy
    * chosen by QUALITY, not by min id: production dedup keeps the best
    * duplicate (highest t02 quality score, doc_id as the deterministic
    * tiebreak; unscorable empty docs rank behind every scored one), so
    * a cluster of a clean original plus mangled scrapes keeps the
    * original. Shares [[lshComponents]] (the cluster definition) and
    * [[scoredDocs]] (the quality definition) with d08/d17/t02, so no
    * two strategies can disagree on clusters or scores. n_switched —
    * clusters whose canonical CHANGED vs d08's min-id rule, attributed
    * to the winner's source — is the measurable value of
    * quality-aware selection; global survivor counts are identical by
    * construction (one winner per cluster either way).
    *
    * Scale shape: everything downstream of the pairs is cluster-sized
    * (≪ corpus); the winner window partitions by component (no global
    * sort); the corpus-sized joins carry (doc_id, source) plus one
    * small left side each. */
  private def d20(s: SparkSession, d: String): DataFrame = {
    val comp = lshComponents(s, d)
    val docs = documents(s, d).select(col("doc_id"), col("source"))
    val member = comp
      .join(scoredDocs(s, d).select(col("doc_id"), col("score_pm")),
        Seq("doc_id"), "left")
      .withColumn("q", coalesce(col("score_pm"), lit(-1L)))
    val wq = Window.partitionBy(col("comp"))
      .orderBy(col("q").desc, col("doc_id").asc)
    // the component label IS the min reachable id (ConnectedComponents
    // contract, the same fact d08's comp === doc_id survivor test rides),
    // so "switched vs d08's min-id rule" is one comparison — no extra
    // groupBy+join to rederive the minimum
    val switched = member.withColumn("rk", row_number().over(wq))
      .filter(col("rk") === 1)
      .select(col("doc_id"),
        when(col("doc_id") =!= col("comp"), 1L).otherwise(0L)
          .as("switched"))
    docs.join(comp, Seq("doc_id"), "left")
      .join(switched, Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_before"),
        sum(when(col("comp").isNull || col("switched").isNotNull, 1L)
          .otherwise(0L)).as("n_after"),
        sum(coalesce(col("switched"), lit(0L))).as("n_switched"))
  }

  /** Per-source union MinHash signature via the custom typed Aggregator
    * ([[graft.functions.MinHashAgg]] — SURVEY §2.9's reserved Aggregator
    * slot, here under the oracle gate): the signature of the UNION of all
    * of a source's shingle sets is the elementwise min of the per-doc
    * signatures. Associative+commutative merge ⇒ map-side partial
    * aggregation; the shuffle carries k longs per source, never shingle
    * sets — the cheap cross-corpus similarity screen at any scale. The
    * signature is emitted as k scalar columns (sig_01..sig_12), not an
    * array: the correctness harness hashes scalar cells only. */
  private def d09(s: SparkSession, d: String): DataFrame = {
    graft.functions.HashSketch.register(s)
    val union = udaf(new graft.functions.MinHashAgg(MINHASH_K),
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Long]]())
    documents(s, d)
      .withColumn("th", tokenHashSeq(col("text")))
      .withColumn("hs",
        array_distinct(graft.functions.HashSketch.shingleSeq(col("th"), K)))
      .filter(size(col("hs")) > 0)
      .withColumn("sig", graft.functions.HashSketch.minhashSig(col("hs"), MINHASH_K))
      .groupBy(col("source"))
      .agg(union(col("sig")).as("union_sig"), count(lit(1)).as("n_docs"))
      .select(
        col("source") +:
          (1 to MINHASH_K).map(i =>
            element_at(col("union_sig"), i).as(f"sig_$i%02d")) :+
          col("n_docs"): _*)
  }

  /** LSH quality report — recall of the approximate pair-finder (d03)
    * against the exact ground truth (d05), as a GATED QUERY: the
    * observability metric a production dedup pipeline tracks when tuning
    * (k, bands). False positives are structurally impossible (d03
    * Jaccard-verifies every candidate), so the report is exact-count,
    * lsh-count, true positives, and integer per-mille recall. */
  private def d10(s: SparkSession, d: String): DataFrame = {
    // one pass per side (the SimilarityOps.recallReport shape): the
    // full-outer join on the pair keys feeds a single aggregate, so the
    // d03 and d05 chains each run ONCE instead of twice (own count +
    // semi-join). Both sides are key-distinct pair sets by construction.
    // Both chains derive from the SAME shingle sets, so one pinned
    // (doc_id, hs, n, sig) base feeds them — the corpus is tokenized,
    // shingled, and cached once instead of once per chain.
    graft.functions.HashSketch.register(s)
    val base = documents(s, d)
      .withColumn("th", tokenHashSeq(col("text")))
      .withColumn("hs",
        array_distinct(graft.functions.HashSketch.shingleSeq(col("th"), K)))
      .filter(size(col("hs")) > 0)
      .withColumn("sig",
        graft.functions.HashSketch.minhashSig(col("hs"), MINHASH_K))
      .select(col("doc_id"), col("hs"), size(col("hs")).as("n"), col("sig"))
      .transform(graft.Pinned.pin)
    d03PairsFrom(base).select(col("a_id"), col("b_id")).withColumn("g", lit(1L))
      .join(d05PairsFrom(base).select(col("a_id"), col("b_id"))
        .withColumn("t", lit(1L)), Seq("a_id", "b_id"), "full_outer")
      .agg(
        coalesce(sum(col("g")), lit(0L)).as("n_lsh"),
        coalesce(sum(col("t")), lit(0L)).as("n_exact"),
        coalesce(sum(col("t") * col("g")), lit(0L)).as("n_tp"))
      .withColumn("recall_pm",
        when(col("n_exact") > 0, expr("(1000L * n_tp) DIV n_exact"))
          .otherwise(1000L))
  }

  /** Cross-corpus repeated-shingle census — the document-frequency
    * histogram of distinct K-token shingles (df=1 unique … df≥5 heavily
    * repeated): the signal behind substring-level dedup decisions (which
    * n-grams are boilerplate shared by many documents vs genuine content).
    * The shuffle carries (shingle_hash) longs — one row per distinct
    * shingle per doc, with map-side partial counts; text never moves. */
  private def d11(s: SparkSession, d: String): DataFrame = {
    graft.functions.HashSketch.register(s)
    documents(s, d)
      .withColumn("th", tokenHashSeq(col("text")))
      .withColumn("hs",
        array_distinct(graft.functions.HashSketch.shingleSeq(col("th"), K)))
      .filter(size(col("hs")) > 0)
      .select(explode(col("hs")).as("g"))
      .groupBy(col("g")).agg(count(lit(1)).as("df"))
      .withColumn("df_bucket", least(col("df"), lit(5L)))
      .groupBy(col("df_bucket"))
      .agg(count(lit(1)).as("n_shingles"), sum(col("df")).as("sum_occurrences"))
  }

  /** Benchmark-contamination check (decontamination): for each PROBE
    * document (doc_id < 10 stands in for a held-out benchmark/test set),
    * the fraction of its K-token shingles that appear anywhere in the
    * rest of the corpus — the n-gram-overlap screen run before training
    * so evaluation data is not memorized. Shape: probe shingles (small
    * side) join the corpus's DISTINCT shingle set on the hash; the
    * shuffle carries longs, and zero-overlap probes are preserved via the
    * left join. The semi join is a plain equi-join Catalyst plans by
    * size: at bench scale the corpus distinct-shingle set broadcasts
    * (build side of a LeftSemi BHJ must be the right), at 100 TB it
    * degrades gracefully to a shuffled join on the shingle hash.
    *
    * 100 TB scale switch `spark.graft.dedup.contamPrefilter`: the
    * dominant cost above is the corpus-sized distinct-shingle shuffle —
    * but the probe (benchmark) side is tiny BY DEFINITION, so a Bloom
    * filter over the probe shingles (Spark's `bloom_filter_agg`, one
    * broadcast-sized aggregate) prefilters corpus shingles to possible
    * matches BEFORE the distinct: the shuffle shrinks from corpus-sized
    * to ~probe-sized. Result-IDENTICAL by construction — Bloom has no
    * false negatives, so every true match survives the prefilter, and
    * the exact semi-join still decides membership (false positives just
    * ride along to the join and lose there). The dfPrefilter pattern:
    * flag on == flag off, spec-asserted. */
  private def d12(s: SparkSession, d: String): DataFrame = {
    graft.functions.HashSketch.register(s)
    val hs = documents(s, d)
      .withColumn("th", tokenHashSeq(col("text")))
      .withColumn("hs",
        array_distinct(graft.functions.HashSketch.shingleSeq(col("th"), K)))
      .filter(size(col("hs")) > 0)
      // UNPINNED (r16 A/B: 0.32 s vs 0.55 s pinned, twice): the probe
      // branch filters to ten docs, so a pin materializes the whole
      // corpus' shingles to save a 1.002-pass recompute — the cache
      // write costs more than the overlap it shares
    val probe = hs.filter(col("doc_id") < 10)
      .select(col("doc_id").as("probe_id"),
        size(col("hs")).cast("long").as("n_shingles"),
        explode(col("hs")).as("shingle"))
    val corpusAll = hs.filter(col("doc_id") >= 10)
      .select(explode(col("hs")).as("shingle"))
    val corpus = (if (graft.Conf.flag(s,
        "spark.graft.dedup.contamPrefilter", false)) {
      // the bloom aggregates the BENCHMARK side — config-sized by
      // definition (the allowlist discipline: a driver-held sketch of
      // the small side, like Transforms' broadcast filter lists) — and
      // embeds as a literal because might_contain deserializes its
      // sketch once, constant-style. Sized to the ACTUAL probe shingle
      // count (one cheap count on the tiny side), not the 1M-item conf
      // default: an undersized bloom passes everything (dead prefilter),
      // an oversized one broadcasts dead bytes.
      val nProbeShingles = math.max(probe.count(), 1L)
      val bfBytes = probe
        .agg(call_function("graft_bloom_agg", col("shingle"),
          lit(nProbeShingles)).as("bf"))
        .head().getAs[Array[Byte]]("bf")
      corpusAll.filter(
        call_function("graft_bloom_contains", lit(bfBytes), col("shingle")))
    } else corpusAll).distinct()
    val shared = probe.join(corpus, Seq("shingle"), "left_semi")
      .groupBy(col("probe_id")).agg(count(lit(1)).as("n_shared"))
    // per-probe base rows WITHOUT re-running the pipeline: one row per
    // probe doc straight from hs (no explode, no distinct to undo it)
    hs.filter(col("doc_id") < 10)
      .select(col("doc_id").as("probe_id"),
        size(col("hs")).cast("long").as("n_shingles"))
      .join(shared, Seq("probe_id"), "left")
      .withColumn("n_shared", coalesce(col("n_shared"), lit(0L)))
      .withColumn("contamination_pm",
        expr("(1000L * n_shared) DIV n_shingles"))
  }

  /** Mixture sampling — per-SOURCE sampling rates (the "data mixing"
    * step that composes a training corpus from differently-weighted
    * sources), deterministic and reproducible: doc selected iff
    * md5(doc_id) mod 1000 < rate_pm(source), where the rate map derives
    * from the source name (a stand-in for the mixture-weights config).
    * Extends q35's single-rate stratified sample to the per-stratum rate
    * map every mixture pipeline needs. The sample predicate is a pure
    * per-row filter ahead of the one narrow rollup; the report shows
    * requested vs realized per-mille so drift is visible. */
  private def d13(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      // rate: 200–900‰ derived from the source name via the portable
      // 60-bit hash (config-like, engine-portable — Portable.hash60)
      .withColumn("rate_pm",
        lit(200L) +
          (graft.functions.Portable.hash60(col("source"), 555) % 8L) * 100L)
      .withColumn("keep",
        graft.functions.Portable.hash60(col("doc_id").cast("string"), 888)
          % 1000L < col("rate_pm"))
      .groupBy(col("source"), col("rate_pm"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_sampled"),
        expr("(1000L * sum(IF(keep, 1L, 0L))) DIV count(1)")
          .as("realized_pm"))

  /** The identity-hash split assignment (800/100/100‰ of the portable
    * 60-bit doc_id hash) — ONE definition shared by d15's accounting
    * and d16's leakage audit (SQL twin: [[splitCaseSql]]). Membership
    * is a pure function of document identity: stable across engines,
    * runs, and cluster sizes, with no stored assignment table and no
    * shuffle — any stage recomputes a doc's split locally from its id
    * (the same property d13 exploits for mixture sampling). */
  private[graft] def splitCol(docId: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val bucket =
      graft.functions.Portable.hash60(docId.cast("string"), 777) % 1000L
    when(bucket < 800, "train").when(bucket < 900, "val").otherwise("test")
  }

  /** Deterministic train/val/test split accounting — [[splitCol]] rolled
    * up per (split, source) so leakage-prone per-source imbalances are
    * visible; at 100 TB this is one scan + one narrow groupBy. */
  private def d15(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .withColumn("split", splitCol(col("doc_id")))
      .groupBy(col("split"), col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))

  /** Split-leakage audit — the check a train/val/test split must pass
    * before anyone trusts an eval: near-duplicate pairs (d03's LSH
    * output by default; d05's exact inverted-index pairs behind
    * `spark.graft.dedup.leakage.exactPairs` — see the body comment)
    * whose endpoints land in DIFFERENT splits
    * leak training signal into evaluation. Reports pair counts per
    * unordered split pair: the diagonal (train,train) is benign
    * duplication, off-diagonal cells are contamination to scrub (drop
    * the non-train member, or re-hash the split). Scale shape: the pair
    * list is ≪ corpus; the split column is recomputed from doc_id by
    * the same identity hash as d15 — no assignment table to join. */
  /** The near-dup pair source the leakage family (d16 audit, d18 scrub)
    * shares: LSH pairs by default (cost), EXACT inverted-index pairs
    * behind `spark.graft.dedup.leakage.exactPairs` — LSH recall < 1
    * means an audit/scrub that UNDERSTATES contamination, and d05's
    * Σcnt² formulation stays viable at 100 TB (that is its whole
    * design), so a release-gating pass can afford exact. Cell counts in
    * exact mode upper-bound the LSH audit's cell-wise (spec-asserted,
    * DedupInvariantSpec). */
  private def leakagePairs(s: SparkSession, d: String): DataFrame =
    leakagePairsOf(s, documents(s, d))

  /** The d16/d18/d19 pair source over an arbitrary docs frame — same
    * `leakage.exactPairs` switch, input-parameterized for p01. */
  private[graft] def leakagePairsOf(s: SparkSession, docs: DataFrame): DataFrame =
    if (graft.Conf.flag(s, "spark.graft.dedup.leakage.exactPairs", false))
      d05Pairs(s, docs)
    else d03Pairs(s, docs)

  /** Train-split decontamination — the ACTION d16's audit calls for:
    * drop from train every document that is a near-dup of ANY val/test
    * document. This is the standard direction (decontaminate TRAIN
    * against eval): the eval sets stay untouched so metrics remain
    * comparable across runs, and train loses only the leaky members.
    * Output: per-source before/dropped/after accounting. Scale: the
    * pair table ≪ corpus; split membership is recomputed from doc_id
    * (identity hash — no assignment join, endpoints classify locally);
    * the drop set is pair-bounded and left-joins back to the narrow
    * (doc_id, source) projection. */
  /** Both orientations of an unordered (a_id, b_id) pair list as (x, y),
    * with ONE evaluation of the pair subtree: the union-of-swapped-
    * projections form runs the upstream pair pipeline (a full LSH band
    * join) twice, once per branch; the per-row two-way explode emits
    * both orientations in a single pass. */
  private def pairsBothWays(pairs: DataFrame): DataFrame =
    pairs
      .select(explode(array(
        struct(col("a_id").as("x"), col("b_id").as("y")),
        struct(col("b_id").as("x"), col("a_id").as("y")))).as("p"))
      .select(col("p.x").as("x"), col("p.y").as("y"))

  private def d18(s: SparkSession, d: String): DataFrame = {
    val pairs = leakagePairs(s, d)
    val sym = pairsBothWays(pairs)
    val drop = sym
      .filter(splitCol(col("x")) === "train" && splitCol(col("y")) =!= "train")
      .select(col("x").as("doc_id")).distinct()
    documents(s, d)
      .select(col("doc_id"), splitCol(col("doc_id")).as("split"), col("source"))
      .filter(col("split") === "train")
      .join(drop.withColumn("leaky", lit(1L)), Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_train_before"),
        sum(coalesce(col("leaky"), lit(0L))).as("n_dropped"),
        (count(lit(1)) - sum(coalesce(col("leaky"), lit(0L))))
          .as("n_train_after"))
  }

  /** Cross-source duplication matrix — provenance rollup of the d03
    * near-dup pairs: for every unordered source pair (least/greatest so
    * (a,b) and (b,a) land in one cell), how many verified near-dup pairs
    * span it and their summed Jaccard (per-mille, integer-exact — divide
    * by n_pairs downstream for the mean). The diagonal (src_a = src_b)
    * measures within-source duplication; off-diagonal cells expose
    * mirror/scrape relationships between crawl sources — the standard
    * triage view before deciding per-source dedup policy.
    *
    * Scale shape: pairs ≪ corpus (d03's banded output), the source
    * labels join is two narrow (id, source) hash joins, and the rollup
    * key space is |sources|² — tiny. Nothing here outgrows d03 itself. */
  private def d19(s: SparkSession, d: String): DataFrame = {
    val src = documents(s, d).select(col("doc_id"), col("source"))
    // same pair source as d16/d18: LSH by default, exact inverted-index
    // pairs behind the leakage.exactPairs flag — a release-gating
    // provenance audit must not understate cross-source duplication by
    // LSH recall < 1 (d05 carries the identical jaccard_pm column)
    leakagePairs(s, d)
      .join(src.select(col("doc_id").as("a_id"), col("source").as("a_src")),
        Seq("a_id"))
      .join(src.select(col("doc_id").as("b_id"), col("source").as("b_src")),
        Seq("b_id"))
      .groupBy(least(col("a_src"), col("b_src")).as("src_a"),
        greatest(col("a_src"), col("b_src")).as("src_b"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("jaccard_pm")).as("sum_jacc"))
  }

  private def d16(s: SparkSession, d: String): DataFrame = {
    val splits = documents(s, d)
      .select(col("doc_id"), splitCol(col("doc_id")).as("split"))
    leakagePairs(s, d)
      .join(splits.select(col("doc_id").as("a_id"), col("split").as("sa")),
        Seq("a_id"))
      .join(splits.select(col("doc_id").as("b_id"), col("split").as("sb")),
        Seq("b_id"))
      .groupBy(least(col("sa"), col("sb")).as("split_lo"),
        greatest(col("sa"), col("sb")).as("split_hi"))
      .agg(count(lit(1)).as("n_pairs"))
  }

  /** Quality-rule battery (Gopher/C4-style filters) — per doc, four
    * integer-arithmetic rules (too short; mean word length outside [3,10];
    * symbol ratio > 10%; < 2 stopwords), rolled up per source with a
    * pass-all count. All compares are cross-multiplied integers (no
    * division, no floats) so the oracle matches exactly; at scale this is
    * one scan + one narrow groupBy. */
  private def t09(s: SparkSession, d: String): DataFrame =
    docsWithTokens(s, d)
      .withColumn("sum_tok_len",
        expr("aggregate(toks, 0L, (acc, t) -> acc + length(t))"))
      .withColumn("n_sym",
        (length(col("text"))
          - length(regexp_replace(col("text"), "[^a-zA-Z0-9 ]", ""))).cast("long"))
      .withColumn("f_short", when(col("n_words") < 50, 1L).otherwise(0L))
      .withColumn("f_wordlen",
        when(col("sum_tok_len") < col("n_words") * 3
          || col("sum_tok_len") > col("n_words") * 10, 1L).otherwise(0L))
      .withColumn("f_symbol",
        when(col("n_sym") * 1000L > length(col("text")).cast("long") * 100L, 1L)
          .otherwise(0L))
      .withColumn("f_stop",
        when(stopwordCount(col("text")) < 2, 1L).otherwise(0L))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("f_short")).as("n_fail_short"),
        sum(col("f_wordlen")).as("n_fail_wordlen"),
        sum(col("f_symbol")).as("n_fail_symbol"),
        sum(col("f_stop")).as("n_fail_stop"),
        sum(when(col("f_short") + col("f_wordlen") + col("f_symbol")
          + col("f_stop") === 0, 1L).otherwise(0L)).as("n_pass_all"))

  /** BPE-ish regex pre-tokenization (letter runs / digit runs / punctuation
    * runs — the GPT-2-style pre-tokenizer shape, ASCII classes so Java and
    * RE2 regex agree byte-for-byte), vs the whitespace counts of t04. */
  private def t08(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .withColumn("bpe",
        size(regexp_extract_all(col("text"),
          lit("[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]+"), lit(0))))
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("bpe")).as("bpe_tokens"),
        max(col("bpe")).cast("long").as("max_bpe"))

  /** Default number of BPE merge-learning rounds (t15/t16) — override
    * with `spark.graft.bpe.rounds` for real vocabularies (a production
    * BPE vocabulary is ~30k–100k merges; the Spark side rides the
    * size-gated local trainer at any round count). The oracle SQL chain
    * is generated from the same conf so MODERATE non-default runs still
    * verify end-to-end; at tokenizer-production round counts the
    * one-CTE-per-round oracle is no longer plannable by DuckDB — there
    * the cross-check is BpeTrainerSpec's clean-room sequential-BPE
    * equality (300 merges), not the SQL oracle. */
  private[graft] val BpeRounds = 6

  private def bpeRoundsConf(s: SparkSession): Int =
    graft.Conf.int(s, "spark.graft.bpe.rounds", BpeRounds)

  /** Vocabulary-row cutoff below which the merge LOOP runs driver-local
    * over the collected (word, cnt) table ([[graft.operators.BpeTrainer]])
    * — the union-find `LocalEdgeCutoff` size-gate pattern. The vocabulary
    * is the DISTINCT-word table (≪ corpus: 2M rows ≈ 40 MB collected,
    * the same driver-budget reasoning as the CC edge cutoff), and the
    * one-Spark-stage-chain-per-merge shape cannot run 30k rounds, so the
    * local loop IS the scale path for the loop itself; the corpus-sized
    * work (vocabulary aggregation, merge application) stays distributed
    * either way. Above the cutoff the distributed chain takes over
    * unchanged. */
  private def bpeLocalVocabCutoff(s: SparkSession): Long =
    graft.Conf.long(s, "spark.graft.bpe.localVocabCutoff", 2000000L)

  /** Size-gated BPE merge learning: driver-local incremental trainer over
    * the aggregated vocabulary below [[bpeLocalVocabCutoff]] (feasible at
    * ≥30k rounds — per-round cost touches only words containing the
    * merged pair), the distributed chain ([[bpeMerges]]) above it. Both
    * paths learn identical merge tables (tie-break (count desc, lhs,
    * rhs) everywhere; equality spec-asserted in BpeTrainerSpec). Returns
    * (merges, final per-word symbol sequences) — BOTH halves of the
    * trainer's output, so t15 AND t16's compression accounting ride the
    * scale path (the trainer computes the final sequences anyway;
    * discarding them would force t16 back onto the
    * one-stage-per-round chain the gate exists to avoid). */
  private[graft] def bpeTrainChain(words: DataFrame, rounds: Int)
      : (DataFrame, DataFrame) = {
    val s = words.sparkSession
    val w = graft.Pinned.pin(words)
    if (w.count() <= bpeLocalVocabCutoff(s)) {
      val vocab = w.select(col("word"), col("cnt")).collect()
        .map(r => (r.getString(0), r.getLong(1))).toIndexedSeq
      val (merges, seqs) = graft.operators.BpeTrainer.train(vocab, rounds)
      import s.implicits._
      val mergesDf = merges.map(m => (m.round, m.lhs, m.rhs, m.pairCount))
        .toDF("merge_round", "lhs", "rhs", "pair_count")
      val seqsDf = vocab.zip(seqs)
        .map { case ((word, cnt), sq) => (word, cnt, sq.toSeq) }
        .toDF("word", "cnt", "seq")
      (mergesDf, seqsDf)
    } else bpeChainBatched(w, rounds)
  }

  private[graft] def bpeTrain(words: DataFrame, rounds: Int): DataFrame =
    bpeTrainChain(words, rounds)._1

  /** BPE merge LEARNING over a (word, cnt) table — the tokenizer-training
    * step t08's pre-tokenization stops short of: k rounds of "count
    * adjacent symbol pairs weighted by word frequency, merge the most
    * frequent pair everywhere" (Sennrich et al. 2016' iterative scheme).
    *
    * Fully declarative — NO driver-side data movement: each round's
    * argmax is a distributed top-1 (orderBy + limit(1) compiles to
    * TakeOrderedAndProject — per-partition top-1 then a 1-row reduce,
    * never a global sort), and the winning rule rejoins the sequence
    * table as a broadcast of ONE row whose (lhs, rhs) drive the merge
    * fold. Merge application is a per-row fold (greedy leftmost scan:
    * append, or replace the just-appended lhs when the pair matches —
    * equivalent to the textbook two-pointer scan because a merged symbol
    * lhs||rhs can never equal lhs), so sequences never explode into a
    * shuffle. Ties break (count desc, lhs, rhs) — deterministic across
    * engines and cluster sizes. At 100 TB the per-round cost is one
    * narrow (lhs, rhs, count) aggregation over the DISTINCT-word table
    * (vocabulary-sized, ≪ corpus) + a map-side broadcast join; the k
    * rounds chain k such stages, each truncated (Iterate.truncate — the
    * CC pattern), so round cost stays flat. For REAL vocabulary scale
    * (≥30k merges) use [[bpeTrain]]: the loop itself must not be a Spark
    * stage chain. */
  private[graft] def bpeMerges(words: DataFrame, rounds: Int): DataFrame =
    bpeChain(words, rounds)._1

  /** [[bpeMerges]] plus the post-merge symbol sequences — shared so the
    * compression accounting (t16) applies the very vocabulary the
    * learning loop (t15) produced, not a re-derivation. */
  private[graft] def bpeChain(words: DataFrame, rounds: Int)
      : (DataFrame, DataFrame) = {
    val mergeFold =
      """aggregate(seq, cast(array() as array<string>),
        |  (acc, x) -> CASE
        |    WHEN size(acc) > 0 AND element_at(acc, -1) = m_lhs AND x = m_rhs
        |    THEN concat(slice(acc, 1, size(acc) - 1), array(concat(m_lhs, m_rhs)))
        |    ELSE concat(acc, array(x)) END)""".stripMargin
    var seqs = words.withColumn("seq",
      expr("transform(sequence(1, length(word)), i -> substring(word, i, 1))"))
    val bests = (1 to rounds).map { r =>
      val pairs = seqs.filter(size(col("seq")) >= 2)
        .select(col("cnt"), explode(expr(
          "transform(sequence(0, size(seq) - 2)," +
            " i -> struct(seq[i] AS lhs, seq[i+1] AS rhs))")).as("p"))
        .groupBy(col("p.lhs").as("lhs"), col("p.rhs").as("rhs"))
        .agg(sum(col("cnt")).as("pair_count"))
      val best = pairs
        .orderBy(col("pair_count").desc, col("lhs").asc, col("rhs").asc)
        .limit(1)
        .select(lit(r.toLong).as("merge_round"), col("lhs"), col("rhs"),
          col("pair_count"))
      // LEFT join on true, not crossJoin: a fully-merged vocabulary makes
      // `best` EMPTY before the round budget runs out, and a cross join
      // with an empty side would annihilate the sequence table (t16 would
      // report a zero-row vocabulary). Left-outer preserves the rows with
      // null m_lhs, and the fold's pair compare is null-safe (null = x is
      // null → CASE else-branch → plain append), so an empty round is the
      // identity. The oracle chain uses the same LEFT JOIN ON TRUE.
      // Lineage is truncated per round (Iterate.truncate): round k's
      // aggregation otherwise re-evaluates the whole chain below it —
      // and `seqs` is referenced twice per round (pair count + merge
      // apply), so the untruncated plan grows exponentially, not just
      // O(k²). Cost stays ~flat per round (IterateSpec pins plan size).
      seqs = graft.operators.Iterate.truncate(
        seqs.join(broadcast(
            best.select(col("lhs").as("m_lhs"), col("rhs").as("m_rhs"))),
          lit(true), "left")
        .withColumn("seq", expr(mergeFold))
        .drop("m_lhs", "m_rhs"))
      best
    }
    (bests.reduce(_ unionByName _), seqs)
  }

  /** The distributed trainer for vocabularies ABOVE the driver cutoff at
    * production round counts — the piece the one-merge-per-round chain
    * ([[bpeChain]]) cannot deliver (30k merges = 30k chained Spark
    * stages): each Spark round learns a BATCH of merges that is provably
    * identical to running that many sequential rounds, shrinking the
    * stage count ~[[BpeBatchCap]]-fold (30k merges ≈ 120 rounds).
    *
    * Batch selection (driver-side, over the top pair stats only — a
    * bounded `limit(2·cap+1)` collect, never data-scale): walk the
    * (count desc, lhs, rhs)-sorted pair list, admitting pairs while
    * they are NON-INTERACTING with everything already admitted,
    * stopping at the first conflict; then truncate the batch to counts
    * STRICTLY above the stopping pair's count (`C`).
    *
    * Non-interaction is the occurrence-level condition, not symbol
    * disjointness: merging p = (a, b) consumes exactly the `a`s
    * followed by `b` and the `b`s preceded by `a`, so the only existing
    * pairs whose counts change are those CHAIN-adjacent to p — q with
    * lhs(q) = b (an occurrence "a b y" loses its b) or rhs(q) = a (an
    * occurrence "x a b" loses its a). Pairs sharing only a lhs or only
    * a rhs — (e, s) vs (e, r) — are count-independent: an `e` followed
    * by `s` is never the `e` of an occurrence of (e, r). The admission
    * walk therefore tracks the admitted lhs- and rhs-sets and stops at
    * the first candidate q with lhs(q) ∈ rhsSet or rhs(q) ∈ lhsSet
    * (self-pairs (a, a) put `a` in both sets, covering the "a a a"
    * greedy cases). This was measured to matter: under plain symbol
    * disjointness a realistic 26-letter vocabulary admitted a mean
    * batch of 1.3 by merge 9k (hot symbols like `e` head most top
    * pairs), all stops overlap-typed; the chain rule re-admits every
    * same-lhs/same-rhs cluster.
    *
    * Exactness argument, updated: merging a batched pair leaves every
    * non-interacting pair's count unchanged, only ever DECREASES
    * chain-adjacent pairs' counts, and any NEWLY CREATED pair
    * (x, m)/(m, y) inherits count ≤ the pre-merge count of its
    * neighbour pair (x, lhs)/(rhs, y) — a pair CHAIN-adjacent to the
    * admitted one, which therefore sorts at or below the stopping
    * conflict, so its count is ≤ C < every batched count. Hence at each
    * sequential step the global argmax (with the shared (count desc,
    * lhs, rhs) tie-break) is exactly the next batched pair. When
    * truncation empties the batch (top count == C), fall back to the
    * top pair alone — a single merge is sequential by definition.
    * Batched application is one fold pass per word over a broadcast
    * pair→merged map: the chain rule means no two patterns can overlap
    * a position (that would need rhs of one == lhs of the other), and
    * no fold-time cascade is possible — a pattern consuming another's
    * OUTPUT would need that output string as its own lhs/rhs, i.e. a
    * live-symbol alias, which the guard below stops (if the string were
    * not live, such a candidate had count 0 and never reached the top
    * list).
    *
    * ALIASING GUARD — the "merged symbols are new" premise is enforced,
    * not assumed: merged symbols are string concatenations, so 'a'+'bc'
    * would COLLIDE with a live symbol 'abc' formed earlier from
    * ('ab','c'), and the collided pair counts could then exceed the
    * batch's floor, breaking the argmax argument. The admission walk
    * therefore also stops at any pair whose concatenation equals a LIVE
    * symbol (tracked on the driver: the initial character alphabet plus
    * every merge applied so far — a conservative superset, since symbols
    * that later vanish from every sequence stay in the set) or equals a
    * concatenation already admitted in this batch (two disjoint pairs
    * like ('a','bc')/('ab','c') may not both land in one batch). A
    * stopped batch truncates exactly like a symbol conflict, and the
    * single-merge fallback is sequential by definition, so aliasing
    * costs batching efficiency, never exactness.
    * Spec: BpeTrainerSpec drives ≥300 merges through this path with
    * `localVocabCutoff=1` and asserts equality with the local trainer. */
  private[graft] val BpeBatchCap = 256


  private[graft] def bpeChainBatched(words: DataFrame, rounds: Int,
      batchCap: Int = BpeBatchCap): (DataFrame, DataFrame) = {
    val s = words.sparkSession
    import s.implicits._
    var seqs = words.withColumn("seq",
      expr("transform(sequence(1, length(word)), i -> substring(word, i, 1))"))
    // live symbol superset for the aliasing guard: the initial character
    // alphabet (one bounded collect — alphabet-sized, not data-sized)
    // plus every merged symbol applied so far
    val live = scala.collection.mutable.HashSet.empty[String]
    live ++= words.select(explode(expr(
        "transform(sequence(1, length(word)), i -> substring(word, i, 1))"))
        .as("c")).distinct().as[String].collect()
    val learned =
      scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
    var done = false
    // per-round LAZY lineage truncation: the next round's pair-count
    // aggregation materializes the checkpoint as part of its own job,
    // saving one scheduler round-trip per super-round (measured on the
    // 6k-word stress fixture: eager-every-round 51.6 s, truncate-every-4
    // 62.2 s — recompute of untruncated folds loses more than the saved
    // checkpoints — lazy-every-round 43.9 s; see Iterate.truncateLazy)
    while (learned.size < rounds && !done) {
      val want = math.min(batchCap, rounds - learned.size)
      val lim = 2 * want + 1
      val top = seqs.filter(size(col("seq")) >= 2)
        .select(col("cnt"), explode(expr(
          "transform(sequence(0, size(seq) - 2)," +
            " i -> struct(seq[i] AS lhs, seq[i+1] AS rhs))")).as("p"))
        .groupBy(col("p.lhs").as("lhs"), col("p.rhs").as("rhs"))
        .agg(sum(col("cnt")).as("pair_count"))
        .orderBy(col("pair_count").desc, col("lhs").asc, col("rhs").asc)
        .limit(lim)
        .collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      if (top.isEmpty) done = true
      else {
        val lhsSet = scala.collection.mutable.HashSet.empty[String]
        val rhsSet = scala.collection.mutable.HashSet.empty[String]
        val created = scala.collection.mutable.HashSet.empty[String]
        val prefix =
          scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
        var cutoff = -1L // count of the first pair NOT admitted
        var i = 0
        var stopped = false
        var stopReason = ""
        while (i < top.length && !stopped && prefix.size < want) {
          val (l, r2, c) = top(i)
          // stop on chain adjacency with an admitted pair (the precise
          // count-interaction condition — see scaladoc) OR on a merge
          // string that aliases a live symbol / an already-admitted
          // merge (aliasing guard)
          if (rhsSet(l) || lhsSet(r2) || live(l + r2) || created(l + r2)) {
            cutoff = c; stopped = true
            stopReason =
              if (rhsSet(l) || lhsSet(r2)) "chain"
              else if (live(l + r2)) "alias-live" else "alias-created"
          } else {
            prefix += top(i); lhsSet += l; rhsSet += r2; created += (l + r2)
            i += 1
          }
        }
        if (!stopped && i < top.length) cutoff = top(i)._3 // capped by want
        else if (!stopped && top.length == lim) cutoff = top.last._3 // limit-truncated
        // fallback is the GLOBAL top pair, not prefix.take(1): the
        // aliasing guard can reject the very first candidate, leaving
        // the prefix empty — and a single merge of the argmax is
        // sequential by definition even when its string aliases
        val safe = prefix.takeWhile(_._3 > cutoff) // counts non-increasing
        val batch = if (safe.nonEmpty) safe.toSeq else top.take(1).toSeq
        if (sys.env.contains("GRAFT_BPE_DEBUG"))
          System.err.println(s"[bpe] round batch=${batch.size} want=$want" +
            (if (stopReason.nonEmpty) s" stop=$stopReason" else ""))
        batch.foreach { case (l, r2, c) =>
          learned += ((0L, l, r2, c)); live += (l + r2)
        }
        val mmap = batch.map { case (l, r2, _) => (l, r2) -> (l + r2) }.toMap
        val stepped = seqs.withColumn("m", typedLit(mmap))
          .withColumn("seq", expr(
            """aggregate(seq, cast(array() as array<string>),
              |  (acc, x) -> CASE
              |    WHEN size(acc) > 0 AND element_at(m,
              |      named_struct('_1', element_at(acc, -1), '_2', x)) IS NOT NULL
              |    THEN concat(slice(acc, 1, size(acc) - 1),
              |      array(element_at(m,
              |        named_struct('_1', element_at(acc, -1), '_2', x))))
              |    ELSE concat(acc, array(x)) END)""".stripMargin
              .replaceAll("\n", " ")))
          .drop("m")
        seqs = graft.operators.Iterate.truncateLazy(stepped)
      }
    }
    // round numbers are 1-based positions in learned order
    val mergesDf = learned.zipWithIndex
      .map { case ((_, l, r2, c), idx) => ((idx + 1).toLong, l, r2, c) }
      .toSeq.toDF("merge_round", "lhs", "rhs", "pair_count")
    (mergesDf, seqs)
  }

  /** The corpus vocabulary t15/t16 train over: lowercase ASCII words (the
    * same charset discipline as t01's alpha tokens — both regex engines
    * agree byte-for-byte), weighted by occurrence count. This aggregation
    * is the corpus-sized (distributed) half of tokenizer training. */
  private def bpeWords(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(explode(expr(
        "regexp_extract_all(lower(text), '[a-z]+', 0)")).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))

  /** The learned merge table over the corpus vocabulary, via the
    * size-gated trainer ([[bpeTrain]]): rounds from
    * `spark.graft.bpe.rounds` (default 6 — the oracle chain is generated
    * from the same conf). Output: one row per learned merge —
    * (merge_round, lhs, rhs, pair_count). */
  private def t15(s: SparkSession, d: String): DataFrame =
    bpeTrain(bpeWords(s, d), bpeRoundsConf(s))

  /** BPE compression accounting — what the learned vocabulary (t15) buys:
    * the corpus tokenized with the k merges applied vs the character
    * baseline, weighted by word frequency. One row: distinct vocabulary
    * size, corpus word occurrences, character tokens before, tokens
    * after, and the realized compression in per-mille (integer — the
    * oracle matches exactly). The sequences come from t15's OWN trainer
    * ([[bpeTrainChain]] — the accounting can't drift from the learner,
    * and the size-gated scale path covers both queries: a 30k-round run
    * is the local trainer for t16 exactly as for t15), and the rollup is
    * a single aggregate over the vocabulary table. */
  private def t16(s: SparkSession, d: String): DataFrame = {
    bpeTrainChain(bpeWords(s, d), bpeRoundsConf(s))._2
      .agg(
        count(lit(1)).as("n_vocab_words"),
        sum(col("cnt")).as("n_word_occurrences"),
        sum(col("cnt") * length(col("word"))).as("tokens_before"),
        sum(col("cnt") * size(col("seq"))).as("tokens_after"))
      .withColumn("compression_pm",
        expr("(1000L * tokens_after) DIV tokens_before"))
  }

  /** Frequency-spectrum (Zipf) histogram over the corpus vocabulary: how
    * many distinct terms occur ~2^k times, with the token mass each
    * spectrum bucket carries. The classic corpus-QA readout — a healthy
    * natural-language corpus shows the long hapax tail (bucket 0
    * dominating n_types) with most token MASS in the high buckets;
    * machine-generated or template text bends the spectrum.
    *
    * Deliberately bucketed by log2(FREQUENCY), not by rank: rank would
    * need a global row_number over the vocabulary — a one-reducer sort
    * that dies exactly at 100 TB vocab sizes — while the spectrum is two
    * map-side-combine groupBys with integer-exact buckets
    * (length(bin(tf)) - 1, no float log at power-of-two boundaries). */
  private def t17(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(explode(tokens(col("text"))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("tf"))
      .groupBy((length(bin(col("tf"))) - 1).cast("long").as("bucket"))
      .agg(
        count(lit(1)).as("n_types"),
        sum(col("tf")).as("sum_tf"),
        min(col("tf")).as("min_tf"),
        max(col("tf")).as("max_tf"))

  /** Per-source novelty scoring — the perplexity proxy that needs no
    * language model: the share of a source's distinct bigrams that occur
    * in NO other document (corpus df = 1). Boilerplate-heavy or scraped
    * sources repeat bigrams across documents (low novelty); genuinely
    * authored text is dominated by one-off word pairs. The d05 inverted-
    * index shape: per-doc distinct bigrams explode once, df is one
    * map-side-combine groupBy on the bigram, and the join back carries
    * only (bigram, df) against narrow (doc_id, source, bigram) rows —
    * no vectors, no text after the explode. Tokens cannot contain the
    * space delimiter, so the "a b" bigram key is collision-free. */
  private def t18(s: SparkSession, d: String): DataFrame = {
    // per-doc distinct via array_distinct BEFORE the explode: a per-row
    // narrow op instead of a corpus-sized dropDuplicates shuffle
    // fanOut kept here on paired-run evidence (t18 0.87/0.89 s fanned
    // vs 1.01/1.05 s not, two runs each at matched cal); t19/t22
    // measured flat with it and stay unfanned
    val bg = withTokens(graft.Tables.fanOut(documents(s, d)))
      .filter(col("n_words") >= 2)
      .select(col("doc_id"), col("source"), explode(array_distinct(expr(
        "transform(sequence(0, size(toks) - 2), i -> concat(toks[i], ' ', toks[i + 1]))")))
        .as("bigram"))
    val dfc = bg.groupBy(col("bigram")).agg(count(lit(1)).as("df"))
    bg.join(dfc, Seq("bigram"))
      .groupBy(col("source"))
      .agg(
        countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("sum_bigrams"),
        sum(when(col("df") === 1, 1L).otherwise(0L)).as("sum_novel"))
      .withColumn("novelty_pm",
        expr("(1000L * sum_novel) DIV sum_bigrams"))
  }

  /** Per-source vocabulary richness — the type-token readout that
    * completes the corpus-QA battery (t17 profiles the GLOBAL Zipf
    * spectrum; this localizes it per source): distinct terms, token
    * occurrences, within-source hapaxes, and the two integer ratios
    * corpus triage actually reads — type-token ratio (boilerplate and
    * template sources repeat a small vocabulary: low TTR) and hapax
    * share (genuinely authored text is dominated by one-off terms).
    * Scale shape: one explode, then two map-side-combine groupBys
    * ((source, term) tf, then the per-source rollup) — the t17/t18
    * cost model, nothing corpus × corpus. */
  private def t20(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("source"), explode(tokens(col("text"))).as("term"))
      .groupBy(col("source"), col("term"))
      .agg(count(lit(1)).as("tf"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_types"),
        sum(col("tf")).as("n_tokens"),
        sum(when(col("tf") === 1, 1L).otherwise(0L)).as("n_hapax"))
      .withColumn("ttr_pm", expr("(1000L * n_types) DIV n_tokens"))
      .withColumn("hapax_pm", expr("(1000L * n_hapax) DIV n_types"))

  /** Span-level cross-corpus dedup — the C4 "remove any repeated
    * three-sentence span" / CCNet paragraph rule, re-expressed over this
    * corpus's punctuation-free text as fixed [[ChunkW]]-token chunks:
    * every chunk keeps only its FIRST corpus occurrence (ordered by
    * (doc_id, chunk index)); later occurrences — anywhere, including
    * later in the same document — are cut, and each document is
    * reassembled from its surviving chunks in order. Output per doc:
    * chunk totals, survivors, and the md5 of the reassembled text (the
    * cleaned corpus itself at pipeline scale; the digest keeps the
    * gated result narrow while still pinning every byte).
    *
    * Scale shape: the first-occurrence winner is a min() of a packed
    * (doc_id, idx) key grouped by chunk CONTENT — a map-side-combinable
    * aggregate, deliberately NOT a row_number window: a boilerplate
    * chunk repeated 10^7 times across a crawl puts all its copies in
    * one window partition (one reducer), while partial aggregation
    * collapses them to one row per executor before the shuffle. The
    * join back to chunk rows is skew-safe the same way (the winner side
    * is one row per distinct chunk; AQE splits any hot probe
    * partition). Packing bound: idx < 10^9 tokens/ChunkW per doc —
    * larger single documents than any crawl shard produces. */
  private val ChunkW = 8

  private def d21(s: SparkSession, d: String): DataFrame =
    spanDedupedDocs(documents(s, d))
      .select(col("doc_id"), col("source"), col("n_chunks"), col("n_kept"),
        md5(col("clean_text")).as("clean_md5"))

  /** d21's span-dedup chain over an arbitrary (doc_id, source, text)
    * frame, returning the CLEANED text itself — (doc_id, source,
    * n_chunks, n_kept, clean_text) — so p01 can feed the surviving spans
    * into downstream stages; d21 is the documents-table instance
    * projecting the md5 digest. First-occurrence keys are computed over
    * whatever frame is passed in (p01 runs it post-exact-dedup, so its
    * winners differ from d21's full-corpus winners by design). */
  private[graft] def spanDedupedDocs(docs: DataFrame): DataFrame = {
    val pk = col("doc_id") * lit(1000000000L) + col("idx")
    val chunks = withTokens(docs)
      .filter(col("n_words") > 0)
      .select(col("doc_id"), col("source"),
        posexplode(expr(
          s"""transform(sequence(0, (n_words - 1) DIV $ChunkW),
             |  i -> array_join(slice(toks, i * $ChunkW + 1, $ChunkW), ' '))"""
            .stripMargin.replaceAll("\n", " ")))
          .as(Seq("idx", "chunk")))
    val first = chunks
      .groupBy(col("chunk"))
      .agg(min(pk).as("first_pk"))
    chunks
      .join(first, Seq("chunk"))
      .withColumn("keep", pk === col("first_pk"))
      .groupBy(col("doc_id"), col("source"))
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        // collect_list drops the nulls the when() leaves for cut
        // chunks; the struct sort restores document order
        array_join(transform(
          array_sort(collect_list(when(col("keep"),
            struct(col("idx"), col("chunk"))))),
          x => x.getField("chunk")), " ").as("clean_text"))
  }

  /** Bigram-LM perplexity proxy — the CCNet/KenLM quality-filter shape
    * with integer-exact arithmetic instead of float log-probs: train an
    * MLE bigram model on the corpus itself (c(w1 w2) transition counts;
    * prefix totals c(w1 ·) derived from them), then score every
    * document by its mean INVERSE transition probability in per-mille —
    * `1000 · c(w1·) / c(w1w2)` per transition, averaged per doc.
    * Monotone in (and rank-equivalent to) add-0 perplexity, but every
    * value is an integer ratio both engines compute identically — no
    * transcendental log to flake a hash on. High score = improbable
    * transitions = the doc KenLM-style filters would cut.
    *
    * Scale shape: the model is vocabulary-bounded (≪ corpus): one
    * corpus pass builds the bigram counts (map-side combine), prefix
    * totals are a vocab-sized rollup OF that table (no second corpus
    * pass). Scoring joins corpus transitions to the model on the bigram
    * key — AQE broadcasts the model when it fits, hash-join otherwise;
    * either way nothing here is ever corpus × corpus. The model
    * includes each scored doc's own transitions, so c ≥ 1 everywhere —
    * no smoothing constant to tune and no division by zero. */
  private def t19(s: SparkSession, d: String): DataFrame =
    // model pin off (r16 A/B: 1.38 s vs 1.56 s pinned, twice): over the
    // raw scan the unc rollup's recompute of the model agg is cheaper
    // than caching it; the pipeline callers keep the pin — their input
    // is already checkpointed/pinned so the trade differs
    lmScoresOf(documents(s, d), pinModel = false)

  /** t19's bigram-LM scoring chain over an arbitrary (doc_id, text, …)
    * frame — p01 scores the decontaminated CLEANED corpus with a model
    * trained on that same corpus, so the chain is input-parameterized. */
  private[graft] def lmScoresOf(docs: DataFrame,
      pinModel: Boolean = true): DataFrame = {
    val trans = withTokens(docs)
      .filter(col("n_words") >= 2)
      .select(col("doc_id"), explode(expr(
        """transform(sequence(0, size(toks) - 2),
          |  i -> struct(toks[i] AS w1, toks[i + 1] AS w2))"""
          .stripMargin.replaceAll("\n", " "))).as("t"))
      .select(col("doc_id"), col("t.w1").as("w1"), col("t.w2").as("w2"))
    // the model table is persisted: it feeds BOTH the scoring join and
    // the prefix rollup, and without materialization the rollup branch
    // re-runs the corpus pass that built it (vocab-bounded ≪ corpus, so
    // this is the cheap side to cache — the d05/t06 discipline)
    val bgc = trans.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c_bg"))
      .transform(df => if (pinModel) graft.Pinned.pin(df) else df)
    val unc = bgc.groupBy(col("w1")).agg(sum(col("c_bg")).as("c_w1"))
    trans
      .join(bgc, Seq("w1", "w2"))
      .join(unc, Seq("w1"))
      .withColumn("inv_pm", expr("(1000L * c_w1) DIV c_bg"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_trans"), sum(col("inv_pm")).as("sum_inv_pm"))
      .withColumn("score_pm", expr("sum_inv_pm DIV n_trans"))
  }

  /** Training-shard plan audit — the accounting face of
    * [[graft.operators.ShardWriter]] (ONE shared shard column, so the
    * audited plan and the written layout cannot diverge): per shard,
    * document count, token mass, and the largest single document. The
    * readout a pipeline checks before materializing shards: hash
    * assignment balances token mass to LLN with no global sort and no
    * coordination — at 100 TB each of the N shards concentrates at Σ/N
    * and the whole audit is one scan + a 16-key rollup. */
  private val NShards = 16

  private def d22(s: SparkSession, d: String): DataFrame =
    docsWithTokens(s, d)
      .withColumn("shard",
        graft.operators.ShardWriter.shardCol(col("doc_id"), NShards))
      .groupBy(col("shard"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_words")).as("sum_words"),
        max(col("n_words")).cast("long").as("max_doc_words"))

  /** Exact substring dedup — the suffix-array dedup semantics of
    * "Deduplicating Training Data Makes Language Models Better" (Lee et
    * al. 2021) re-expressed as a shuffle-friendly k-gram-anchor plan.
    * d21 cuts on FIXED chunk boundaries (the C4 rule); this operator
    * removes every non-first occurrence of every duplicated
    * [[SubstrK]]-token run at ANY offset, the alignment-free semantics
    * the suffix-array formulation exists for. Definition: position `i`
    * of a doc is a *dup anchor* iff the k-gram starting at `i` occurs
    * earlier in the global `(doc_id, i)` order — including earlier in
    * the SAME doc, so within-doc boilerplate repetition is caught too.
    * Each anchor marks tokens `[i, i+k-1]` for removal; per doc the
    * marked ranges merge into maximal intervals (two anchors coalesce
    * when their starts differ by ≤ k). The report carries the interval
    * algebra (count, removed-token mass) plus an md5 over the exact
    * interval list, so the oracle confirms the spans themselves, not
    * just their count.
    *
    * Scale shape (the reason this is not a literal suffix array): a
    * distributed suffix array needs a global order over all suffixes —
    * a total sort of the corpus. The anchor plan needs (1) one linear
    * pass emitting `(gram, pk)` rows — n_tokens rows, ~100 bytes each,
    * (2) a map-side-combinable `min(pk)` per gram (hot grams collapse
    * in the combiner, no skew), (3) one hash join back on the gram key,
    * and (4) per-DOC windows bounded by document length. Nothing is
    * ever corpus × corpus and no stage needs a global order. Grouping
    * on the literal gram string guarantees zero false merges; swapping
    * the key for [[graft.functions.Portable.hash60]] of the gram halves
    * the shuffle at 100 TB at a quantifiable (~2⁻⁶⁰ pairwise) collision
    * risk — the key is isolated in [[substrGrams]] so that swap is one
    * line.
    *
    * Id bound (d21's packed-key contract): the global-order key is
    * `doc_id·10⁹ + i`, exact while doc_id < 9.2·10⁹ and docs stay under
    * 10⁹ tokens; a corpus beyond that re-keys on
    * `struct(doc_id, i)` ordering (min over structs is lexicographic —
    * same winner, two-column state). */
  private[graft] val SubstrK = 8


  /** The `(doc_id, source, i, gram, pk)` anchor-candidate frame: one row
    * per token position that starts a full k-gram. Recomputed (not
    * persisted) by design — at 100 TB this frame is the corpus ×k and
    * caching it would evict everything else; both consumers re-derive it
    * from the narrow documents scan. */
  private def substrGrams(docs: DataFrame): DataFrame =
    withTokens(docs)
      .filter(col("n_words") >= SubstrK)
      .select(col("doc_id"), col("source"), col("n_words"),
        posexplode(expr(
          s"""transform(sequence(0, n_words - $SubstrK),
             |  i -> array_join(slice(toks, i + 1, $SubstrK), ' '))"""
            .stripMargin.replaceAll("\n", " "))).as(Seq("i", "gram")))
      .withColumn("pk", col("doc_id") * lit(1000000000L) + col("i"))

  private def d23(s: SparkSession, d: String): DataFrame =
    d23Report(s, documents(s, d))

  /** d23 over an arbitrary (doc_id, source, text) frame — the skew spec
    * drives this with a synthetic hot-gram corpus.
    *
    * Hot-gram isolation (the [[graft.operators.ConnectedComponents]]
    * hot-key discipline, enabled by `spark.graft.d23.hotCount`):
    * `grams.join(first, "gram")` sends EVERY occurrence of a gram to one
    * task — a ubiquitous k-gram (boilerplate headers, license blocks) at
    * 100 TB is a hot key no AQE split fully saves, because the skew is
    * in the KEY, not the partition. With the conf set, hot grams
    * (count ≥ threshold, top-100 cap — the size-gated-collect
    * discipline) are detected from the winners aggregation, which is
    * pinned so detection and both join arms share ONE computation, and
    * the hot occurrences take a BROADCAST join against just their
    * winners — never shuffling on the hot key — while cold grams take
    * the ordinary hash join. Result-identical: the two arms partition
    * the gram space. OFF by default, and MEASURED to stay so: even
    * with detection sharing the pinned winners table the join needs
    * (the cheapest driver-side detection possible — the earlier
    * second-full-aggregation design was 6×), forcing the pin
    * materialization + collect + two-arm plan cost 9.4× on the
    * unskewed sf0.1 bench (0.143 → 1.34 s, round 12), because the
    * default single-plan path never materializes the winners at all.
    * Important negative result (DedupInvariantSpec pins it with a
    * control): AQE's skew-join split does NOT cover the default path —
    * the winners side of the join is aggregate-fed (Sort ←
    * HashAggregate ← shuffle, riding the join's own gram partitioning),
    * and OptimizeSkewedJoin only splits joins whose children are bare
    * sort-over-shuffle stages. So on a corpus with true stop-grams the
    * explicit threshold IS the cover: set `hotCount` there (the skew
    * spec's planted-hot fixture shows the broadcast arm engaging,
    * result-identical); on corpora without them the default path's
    * single plan is the cheapest correct shape. Correctness never
    * depends on the setting (`hotCount=0` ≡ unset). */
  private[graft] def d23Report(s: SparkSession, docs: DataFrame): DataFrame = {
    val grams = substrGrams(docs)
    val first0 = grams.groupBy(col("gram"))
      .agg(min(col("pk")).as("first_pk"), count(lit(1)).as("cnt"))
    val joined = graft.Conf.long(s, "spark.graft.d23.hotCount")
        .filter(_ > 0) match {
      case None =>
        grams.join(first0.select(col("gram"), col("first_pk")), Seq("gram"))
      case Some(hotCount) =>
        // pinned: the detection collect below and both join arms read
        // one materialization of the winners table (vocab-sized — at
        // 100 TB this persist spills to disk, still far cheaper than a
        // second full gram aggregation)
        val first = graft.Pinned.pin(first0)
        val hotGrams: Array[String] = first
          .filter(col("cnt") >= hotCount)
          .orderBy(col("cnt").desc, col("gram").asc)
          .limit(100)
          .select("gram").collect().map(_.getString(0))
        val winners = first.select(col("gram"), col("first_pk"))
        if (hotGrams.isEmpty) grams.join(winners, Seq("gram"))
        else {
          val isHot = col("gram").isin(hotGrams.toSeq: _*)
          grams.filter(!isHot).join(winners.filter(!isHot), Seq("gram"))
            .unionByName(grams.filter(isHot)
              .join(broadcast(winners.filter(isHot)), Seq("gram")))
        }
    }
    val anchors = joined
      .filter(col("pk") > col("first_pk"))
      .select(col("doc_id"), col("i"))
    // gaps-and-islands interval merge — per-DOC windows (bounded by doc
    // length, fully parallel across docs; the d21 collect_list argument)
    val w = Window.partitionBy(col("doc_id")).orderBy(col("i"))
    val islands = anchors
      .withColumn("gap", col("i") - lag(col("i"), 1).over(w))
      .withColumn("new_iv",
        when(col("gap").isNotNull && col("gap") <= SubstrK, 0L).otherwise(1L))
      .withColumn("island", sum(col("new_iv")).over(w))
      .groupBy(col("doc_id"), col("island"))
      .agg(min(col("i")).as("s"),
        (max(col("i")) + lit(SubstrK - 1)).as("e"),
        count(lit(1)).as("n_a"))
    val report = islands
      .groupBy(col("doc_id"))
      .agg(
        sum(col("n_a")).as("n_anchors"),
        count(lit(1)).as("n_intervals"),
        sum(col("e") - col("s") + 1).as("n_removed"),
        md5(array_join(transform(
          array_sort(collect_list(struct(col("s"), col("e")))),
          x => concat(x.getField("s").cast("string"), lit(":"),
            x.getField("e").cast("string"))), ",")).as("iv_md5"))
    // every doc reports, dup-free ones with zeros — the second documents
    // scan is narrow (no gram explode) and keeps the output a total
    // per-doc accounting like d21's
    withTokens(docs)
      .select(col("doc_id"), col("source"),
        col("n_words").cast("long").as("n_toks"))
      .join(report, Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"), col("n_toks"),
        coalesce(col("n_anchors"), lit(0L)).as("n_anchors"),
        coalesce(col("n_intervals"), lit(0L)).as("n_intervals"),
        coalesce(col("n_removed"), lit(0L)).as("n_removed"),
        coalesce(col("iv_md5"), md5(lit(""))).as("iv_md5"))
  }

  /** Delta dedup against a PERSISTED signature index — the third
    * dedup execution mode next to static-batch (d01–d08) and streaming
    * ingest ([[graft.streaming.IncrementalDedup]]): a nightly crawl
    * increment dedups against yesterday's corpus WITHOUT rescanning
    * yesterday's text. The d24 query face is
    * [[DeltaAxis.serve]] on the text axis: the base partition (a
    * deterministic hash split standing in for "the existing corpus") is
    * distilled to a narrow index — (doc_id, content md5, MinHash
    * signature) — written to parquet and READ BACK, the same
    * offline-build / online-serve discipline as
    * [[graft.operators.AnnIndexStore]]; the delta pass touches only that
    * index plus the new documents. Verdict per delta doc: `exact`
    * (content hash present in the index; winner = smallest such base
    * id), else `near` (band-join candidates, verified by the MinHash
    * COMPONENT-MATCH estimate `1000·matches DIV k ≥ 500` — signatures
    * only, so the index never stores shingle sets; winner = smallest
    * verified base id, its estimate reported), else `unique`.
    * Intra-delta duplicates are deliberately out of scope — compose
    * d02/d03 over the delta for those; this operator is the
    * index-reuse face.
    *
    * Scale: the index is ~40 bytes/doc regardless of document size
    * (the text never ships); the delta pass is one scan of the
    * increment + id-only band joins against the index + one signature
    * join back — cost proportional to |delta| + |index|, never
    * |base text|. */
  private def d24(s: SparkSession, d: String): DataFrame =
    DeltaAxis.Text.serve(s, documents(s, d))

  /** d24's index row for any (doc_id, source, text) frame: content md5 +
    * MinHash signature — ~40 B/doc, the text never leaves this select. */
  private[graft] def d24Sig(df: DataFrame): DataFrame =
    d24SigCols(df)
      .select(col("doc_id"), col("source"), col("content_hash"), col("sig"))

  /** [[d24Sig]]'s computation with the input's other columns still
    * attached — the streaming bridge selects its event-time column
    * through. */
  private[graft] def d24SigCols(df: DataFrame): DataFrame = df
    .withColumn("content_hash", md5(col("text")))
    .withColumn("th", tokenHashSeq(col("text")))
    .withColumn("hs",
      array_distinct(graft.functions.HashSketch.shingleSeq(col("th"), K)))
    .withColumn("sig", when(size(col("hs")) > 0,
      graft.functions.HashSketch.minhashSig(col("hs"), MINHASH_K)))

  /** One row per (LSH band, signed doc), the doc id renamed to `as` —
    * the id-only band keys [[deltaVerdicts]] and [[intraUniqueSigs]]
    * both join on (the d03 discipline: signatures rejoin only for the
    * candidate pairs). */
  private def d24Bands(df: DataFrame, as: String): DataFrame = df
    .filter(col("sig").isNotNull)
    .select(col("doc_id").as(as),
      explode(array((0 until BANDS).map(b =>
        bandKey(col("sig"), b, ROWS)): _*)).as("band_key"))

  /** The MinHash component-match estimate of `d_sig` vs `b_sig`, per
    * mille — the near arm's verify. */
  private def d24EstPm: Column = expr(
    s"""(1000L * size(filter(zip_with(d_sig, b_sig, (x, y) -> x = y),
       |  v -> v))) DIV $MINHASH_K"""
      .stripMargin.replaceAll("\n", " "))

  /** Dedup a night's admitted uniques AGAINST EACH OTHER before they
    * fold into the index: a crawl batch with many internal copies must
    * contribute ONE signature per distinct content, or the index
    * accumulates duplicate rows forever and under-reports dups (every
    * later copy "matches" a doc that was itself a copy). Rule — keep a
    * doc iff no SMALLER-id doc in the same delta is an exact
    * (content-hash) or near (band-candidate, est ≥ 500‰) duplicate of
    * it: the min-id winner discipline of d02/d03, non-transitive like
    * [[deltaVerdicts]]' near arm, and never able to drop all copies
    * (the min id has no smaller comparand). Verdicts are NOT affected —
    * the returned frame still judges every delta doc against the index
    * only (intra-delta verdicts stay d02/d03's job); this dedups the
    * WRITE. Same shapes as [[deltaVerdicts]]: hash-group for exact,
    * id-only band self-join for near. */
  private[graft] def intraUniqueSigs(u0: DataFrame): DataFrame = {
    // the uniques frame is referenced six times below (exact grouping,
    // two band arms, two sig rejoins, the final anti-join) — without a
    // pin each reference re-executes the whole verdict-join subtree
    // (measured: the p04 admission decision cost 3.2 s of its 5.4 s
    // night at sf0.1 before this pin, ~0.5 s after)
    val u = graft.Pinned.pin(u0)
    val exactDrop = u.select(col("doc_id"), col("content_hash"))
      .join(u.groupBy(col("content_hash"))
        .agg(min(col("doc_id")).as("keep_id")), Seq("content_hash"))
      .filter(col("doc_id") =!= col("keep_id"))
      .select("doc_id")
    val nearDrop = d24Bands(u, "doc_id")
      .join(d24Bands(u, "base_id"), Seq("band_key"))
      .filter(col("base_id") < col("doc_id"))
      .select("doc_id", "base_id")
      .dropDuplicates("doc_id", "base_id")
      .join(u.select(col("doc_id"), col("sig").as("d_sig")), Seq("doc_id"))
      .join(u.select(col("doc_id").as("base_id"), col("sig").as("b_sig")),
        Seq("base_id"))
      .withColumn("est_pm", d24EstPm)
      .filter(col("est_pm") >= 500)
      .select("doc_id").distinct()
    u.join(exactDrop.unionByName(nearDrop).distinct(),
      Seq("doc_id"), "left_anti")
  }

  /** Verdicts for a sig'd `delta` frame against a sig'd `index` frame —
    * the text axis's read-only verdict core ([[DeltaAxis]]: the d24
    * query face, the nightly advance and the stream bridge's
    * bootstrap-free fold). Both inputs carry (doc_id, source,
    * content_hash, sig); `delta` should be pinned by the caller (three
    * scans below). */
  private[graft] def deltaVerdicts(index: DataFrame,
      delta: DataFrame): DataFrame = {
    val exact = delta.select(col("doc_id"), col("content_hash"))
      .join(index.select(col("content_hash"), col("doc_id").as("base_id")),
        Seq("content_hash"))
      .groupBy(col("doc_id"))
      .agg(min(col("base_id")).as("exact_winner"))
    val cand = d24Bands(delta, "doc_id")
      .join(d24Bands(index, "base_id"), Seq("band_key"))
      .select("doc_id", "base_id")
      .dropDuplicates("doc_id", "base_id")
    val near = cand
      .join(delta.select(col("doc_id"), col("sig").as("d_sig")), Seq("doc_id"))
      .join(index.select(col("doc_id").as("base_id"), col("sig").as("b_sig")),
        Seq("base_id"))
      .withColumn("est_pm", d24EstPm)
      .filter(col("est_pm") >= 500)
      .groupBy(col("doc_id"))
      .agg(min(struct(col("base_id"), col("est_pm"))).as("w"))
      .select(col("doc_id"), col("w.base_id").as("near_winner"),
        col("w.est_pm").as("near_est"))
    delta.select(col("doc_id"), col("source"))
      .join(exact, Seq("doc_id"), "left")
      .join(near, Seq("doc_id"), "left")
      .select(
        col("doc_id"), col("source"),
        when(col("exact_winner").isNotNull, "exact")
          .when(col("near_winner").isNotNull, "near")
          .otherwise("unique").as("verdict"),
        coalesce(col("exact_winner"), col("near_winner"), lit(-1L))
          .as("winner"),
        when(col("exact_winner").isNotNull, 1000L)
          .when(col("near_winner").isNotNull, col("near_est"))
          .otherwise(0L).as("est_pm"))
  }

  /** Tokenizer-artifact round trip — the offline-train / online-serve
    * discipline for the BPE family (the d24/AnnIndexStore pattern,
    * applied to the tokenizer): learn the merge table (t15's size-gated
    * trainer), WRITE it to parquet as the tokenizer artifact, read it
    * back FROZEN, and re-tokenize the corpus vocabulary under the
    * stored table via the serving fold
    * ([[graft.streaming.StreamTokenizer.tokenizeWord]] — the one merge
    * definition the trainer, the distributed chain, and the stream
    * tokenizer all implement). Output: t16's accounting columns plus
    * the artifact's merge count; the oracle recomputes the whole chain
    * relationally with no artifact at all, so a hash match PROVES the
    * disk round-trip and the serve-path fold reproduce training
    * exactly — the guarantee a production pipeline needs before
    * shipping the artifact to a separate tokenization fleet.
    *
    * Scale: the artifact is rounds-bounded (rows = merges), the
    * broadcast is a few KB, and serving is one scan of the DISTINCT
    * vocabulary (≪ corpus) with a per-word fold. */
  private def t23(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val dir = s.conf.getOption("spark.graft.t23.tokenizerDir")
      .getOrElse(sys.props("java.io.tmpdir") + "/graft_t23_tokenizer")
    val words = graft.Pinned.pin(bpeWords(s, d))
    // retrain discipline: each training run lands as a NEW total
    // generation (atomic marker swap) — a serving fleet mid-load keeps
    // its generation; loadMerges resolves the newest committed one.
    // Rows carry their own generation number (single-writer store, so
    // nextGen is the number this write will claim): the provenance a
    // fleet stamps into its tokenized output (tokenizeWithGen).
    val g = graft.operators.IndexGenerations.nextGen(s, dir)
    graft.operators.IndexGenerations.writeTotal(s, dir,
      bpeTrain(words, bpeRoundsConf(s)).withColumn("artifact_gen", lit(g)))
    // the artifact is rounds-bounded: the loader's collect is a few KB
    val merges = graft.streaming.StreamTokenizer.loadMerges(s, dir)
    val bc = s.sparkContext.broadcast(merges)
    words.select(col("word"), col("cnt")).as[(String, Long)]
      .map { case (w, c) =>
        (w, c,
          graft.streaming.StreamTokenizer.tokenizeWord(w, bc.value)
            .length.toLong)
      }
      .toDF("word", "cnt", "n_toks")
      .agg(
        count(lit(1)).as("n_vocab_words"),
        sum(col("cnt")).as("n_word_occurrences"),
        sum(col("cnt") * length(col("word"))).as("tokens_before"),
        sum(col("cnt") * col("n_toks")).as("tokens_after"))
      .withColumn("compression_pm",
        expr("(1000L * tokens_after) DIV tokens_before"))
      .withColumn("n_merges", lit(merges.size.toLong))
  }

  /** Sliding-window chunker with overlap — the retrieval/context-window
    * prep step (split every document into [[ChunkOvW]]-token windows at
    * stride [[ChunkOvS]], 50% overlap) that sits between a cleaned
    * corpus and an embedding or packing stage. Deterministic contract:
    * a chunk starts at every stride multiple below the doc length
    * (`ceil(n/S)` chunks), tail chunks run short rather than re-anchor,
    * so chunk boundaries are a pure function of (doc_id, n_words) —
    * re-running the chunker on an appended corpus never re-chunks old
    * docs (the incremental-ingest property d22's hash sharding has).
    * Per chunk: ordinal, token offset, token count, content digest.
    * Scale: one narrow scan, per-row higher-order functions, ZERO
    * shuffles — the explode multiplies rows ~n/S× but never leaves the
    * partition. */
  private val ChunkOvW = 32
  private val ChunkOvS = 16

  private def t21(s: SparkSession, d: String): DataFrame =
    docsWithTokens(s, d)
      .filter(col("n_words") > 0)
      .select(col("doc_id"), col("source"), col("n_words"),
        posexplode(expr(
          s"""transform(sequence(0, (n_words - 1) DIV $ChunkOvS),
             |  i -> array_join(slice(toks, i * $ChunkOvS + 1, $ChunkOvW), ' '))"""
            .stripMargin.replaceAll("\n", " "))).as(Seq("idx", "chunk")))
      .select(col("doc_id"), col("source"),
        col("idx").cast("long").as("idx"),
        (col("idx") * ChunkOvS).cast("long").as("t_start"),
        least(lit(ChunkOvW), col("n_words") - col("idx") * ChunkOvS)
          .cast("long").as("n_chunk_toks"),
        md5(col("chunk")).as("chunk_md5"))

  /** DSIR-style importance weights — the data-selection shape of "Data
    * Selection for Language Models via Importance Resampling" (Xie et
    * al. 2023): score every document by how much more likely its
    * features are under a TARGET distribution than under the raw
    * corpus, using bag-of-bigram models, then resample by the weight.
    * Integer-exact formulation: per transition, the add-one-smoothed
    * target-affinity per-mille `1000·(c_t+1) DIV (c_r+1)` where c_t /
    * c_r count the bigram in the target subset ([[DsirTarget]] sources)
    * vs the whole corpus; the per-doc report is the transition count,
    * affinity sum, and mean. Dropping the corpus-constant normalizers
    * (N_t, N_r) keeps every product ≤ 1000·c_t — overflow-safe at 10¹⁵
    * bigram occurrences — and shifts all docs by the same factor, which
    * resampling ranks through unchanged.
    *
    * Scale shape: ONE grouped pass builds both models (c_r as count,
    * c_t as a conditional sum — map-side combinable, vocab-bounded
    * output ≪ corpus); scoring is a single join of corpus transitions
    * to that table on the bigram key (AQE broadcasts it when it fits).
    * The target never needs its own corpus scan. */
  private val DsirTarget = Seq("src0", "src1", "src2")

  private def t22(s: SparkSession, d: String): DataFrame = {
    val trans = withTokens(documents(s, d))
      .filter(col("n_words") >= 2)
      .select(col("doc_id"), col("source"), explode(expr(
        """transform(sequence(0, size(toks) - 2),
          |  i -> struct(toks[i] AS w1, toks[i + 1] AS w2))"""
          .stripMargin.replaceAll("\n", " "))).as("t"))
      .select(col("doc_id"), col("source"),
        col("t.w1").as("w1"), col("t.w2").as("w2"))
    val model = trans.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c_r"),
        sum(when(col("source").isin(DsirTarget: _*), 1L).otherwise(0L))
          .as("c_t"))
    trans
      .join(model, Seq("w1", "w2"))
      .withColumn("aff_pm", expr("(1000L * (c_t + 1)) DIV (c_r + 1)"))
      .groupBy(col("doc_id"), col("source"))
      .agg(count(lit(1)).as("n_trans"), sum(col("aff_pm")).as("sum_aff_pm"))
      .withColumn("aff_pm", expr("sum_aff_pm DIV n_trans"))
      .withColumn("is_target",
        col("source").isin(DsirTarget: _*).cast("long"))
  }

  /** p02 — the per-source corpus REPORT CARD: one composed read-only
    * query joining four pipelines' accounting into the table a data
    * lead reads before deciding what to ingest, dedup, or drop. Per
    * source: document and token mass; exact-duplicate rate (non-first
    * occurrence of the content hash under global id order — the d02
    * winner rule, cross-source aware); span-cut rate (d21's C4
    * accounting); the t14 bottom-decile quality threshold; and the
    * mean bigram-LM improbability (t19's corpus-trained model). Every
    * metric is the SAME formula its standalone query gates — composed
    * here, not re-derived — and integer per-mille, so the whole report
    * hash-matches the oracle.
    *
    * Scale: four narrow per-source rollups over shared scans; the only
    * corpus-wide shuffles are the ones the standalone stages already
    * pay (content-hash window, chunk group, bigram model). Nothing
    * collects; the report is |sources| rows. */
  private def p02(s: SparkSession, d: String): DataFrame =
    // UNPINNED standalone (r16 A/B: 0.40 s vs 0.53 s pinned, twice):
    // four rollup re-tokenizations of the raw scan cost less than the
    // cache write+reads at this scale. buildAndReport (p03) still pins
    // ITS base — there the same frame also feeds the whole p01 build.
    p02Report(withTokens(documents(s, d))
      .select(col("doc_id"), col("source"), col("text"), col("n_words")))

  /** p02 over a caller-supplied (pinned) tokenized docs frame — the
    * composition face: [[buildAndReport]] hands the SAME cached base to
    * p01's build and this report, so the session pays one documents
    * scan, not two. The report's metrics are defined on the RAW corpus
    * (dup rates and quality floors BEFORE any dedup decision — that is
    * what a data lead triages with), so the base scan is the shared
    * stage; p01's downstream stages (survivors, cleaned, train) are
    * filtered views the report must not see. */
  private[graft] def p02Report(docs: DataFrame): DataFrame = {
    val w = Window.partitionBy(md5(col("text")))
    val basics = docs
      .withColumn("keeper", min(col("doc_id")).over(w))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_words")).cast("long").as("sum_toks"),
        sum(when(col("doc_id") =!= col("keeper"), 1L).otherwise(0L))
          .as("n_exact_dup"))
    val span = spanDedupedDocs(docs)
      .groupBy(col("source"))
      .agg(sum(col("n_chunks")).as("nc"), sum(col("n_kept")).as("nk"))
    val q = scoredOf(docs)
      .groupBy(col("source"))
      .agg(expr("percentile_disc(0.1) WITHIN GROUP (ORDER BY score_pm)")
        .cast("long").as("q_p10"))
    val lm = lmScoresOf(docs)
      .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_lm"), sum(col("score_pm")).as("slm"))
    basics
      .join(span, Seq("source"), "left")
      .join(q, Seq("source"), "left")
      .join(lm, Seq("source"), "left")
      .select(
        col("source"), col("n_docs"), col("sum_toks"),
        expr("(1000L * n_exact_dup) DIV n_docs").as("exact_dup_pm"),
        when(col("nc") > 0, expr("(1000L * (nc - nk)) DIV nc"))
          .otherwise(0L).as("span_cut_pm"),
        coalesce(col("q_p10"), lit(0L)).as("q_p10"),
        when(col("n_lm") > 0, expr("slm DIV n_lm"))
          .otherwise(0L).as("lm_score_pm"))
  }

  /** p01 — the composed end-to-end corpus build, chaining the pipeline
    * stages this file ships individually into the one job a user runs to
    * produce training shards:
    *
    *   documents → exact dedup (d02's min-doc_id winner per content hash)
    *   → span dedup over the survivors ([[spanDedupedDocs]] — CLEANED
    *   text flows downstream, not the raw text) → decontamination (d18's
    *   rule over [[leakagePairsOf]] on the cleaned text: drop train docs
    *   near-dup of any val/test doc) → quality gates (t14's per-source
    *   p10 score floor ∧ t19's per-source p90 LM-improbability ceiling,
    *   model trained on the gated corpus itself) → t12's running-token
    *   packing → [[graft.operators.ShardWriter.writeDocs]].
    *
    * The returned receipt is computed from the parquet files just
    * written (per shard: doc count, token mass, packing-bin checksum,
    * md5 of the sorted doc_id list), so the gate verifies the on-disk
    * corpus, not an in-memory plan. Output dir:
    * `spark.graft.p01.outDir`, default under java.io.tmpdir.
    *
    * Scale: every stage keeps its standalone shape (hash/banded
    * shuffles, id-only pair joins, bucketed packing prefix sum,
    * hash-partitioned write); composition adds no new shuffle beyond the narrow
    * (doc_id, text) join feeding the writer, and the cleaned-docs frame
    * is persisted once because the pair chain, both quality gates, and
    * the writer all scan it. */
  private[graft] def p01(s: SparkSession, d: String): DataFrame = {
    val outDir = s.conf.getOption("spark.graft.p01.outDir")
      .getOrElse(sys.props("java.io.tmpdir") + "/graft_p01_shards")
    val (corpus, release) = p01CorpusLoan(s, d)
    val written =
      try graft.operators.ShardWriter.writeDocs(corpus, NShards, outDir)
      // the shard write is the one action that consumes the corpus frame;
      // once the files are on disk every intermediate persist is dead
      // weight — release them here (loan pattern) instead of leaving the
      // caller to clearCache()
      finally release()
    shardReceipt(written)
  }

  private def shardReceipt(written: DataFrame): DataFrame =
    written
      .groupBy(col("shard").cast("long").as("shard"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_toks")).as("sum_tokens"),
        sum(col("bin")).as("sum_bin"),
        md5(array_join(transform(array_sort(collect_list(col("doc_id"))),
          x => x.cast("string")), ",")).as("ids_md5"))

  /** Compose p01 (build + shard write) and p02 (report card) in ONE
    * session over ONE documents scan: the tokenized base frame is
    * pinned once and handed to both — the build's exact-dedup window
    * and every report rollup read the cache, so the corpus parquet is
    * scanned exactly once for the pair (PipelineComposeSpec pins this
    * in the report's executed plan). Returns (shard receipt, report);
    * the shard write has already run when this returns. Caller releases
    * the base pin via [[graft.Pinned.releaseAll]] after consuming the
    * report. */
  def buildAndReport(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val outDir = s.conf.getOption("spark.graft.p01.outDir")
      .getOrElse(sys.props("java.io.tmpdir") + "/graft_p01_shards")
    val base = graft.Pinned.pin(withTokens(documents(s, d))
      .select(col("doc_id"), col("source"), col("text"), col("n_words")))
    val (corpus, release) = p01Build(s, base, production = true)
    // Measured and REJECTED (r15): overlapping the shard write with an
    // eager pin+count of the report — the report pin executes its deep
    // chain as a cached plan, and p03 benched 6.2 -> 7.7 s even with
    // the overlap hiding it behind the write. The lazy report (chain
    // runs at the caller's action, WITH AQE) stays the contract.
    val written =
      try graft.operators.ShardWriter.writeDocs(corpus, NShards, outDir)
      finally release()
    (shardReceipt(written), p02Report(base))
  }

  /** p01's pre-write frame as ONE fully-declarative plan — no persists,
    * no lineage cuts — exposed so PlanAuditSpec can pin the composed
    * shape end-to-end (banded pair joins only, broadcast threshold
    * joins, bucketed packing windows, no cartesian). Plan-inspection
    * only; production callers go through [[p01CorpusLoan]], which runs
    * the SAME builder with materialization turned on. */
  private[graft] def p01Corpus(s: SparkSession, d: String): DataFrame =
    p01Build(s, documents(s, d), production = false)._1

  /** [[p01Corpus]] with production materialization: the multiply-scanned
    * intermediates persist, the packing input's lineage is cut, and the
    * returned release handle unpersists everything — call it after the
    * consuming action completes (loan pattern). */
  private[graft] def p01CorpusLoan(
      s: SparkSession, d: String): (DataFrame, () => Unit) =
    p01Build(s, documents(s, d), production = true)

  /** `docs` needs (doc_id, source, text); extra columns (a shared
    * tokenized base from [[buildAndReport]]) ride through harmlessly —
    * the first select narrows. */
  private def p01Build(s: SparkSession, docs: DataFrame,
      production: Boolean): (DataFrame, () => Unit) = {
    // audit mode skips persist(): a plan-inspection call must not
    // register cache entries it has no action to release
    def pin(df: DataFrame): DataFrame =
      if (production) graft.Pinned.pin(df) else df
    // production lineage cut at the chain's narrow hubs: this pipeline
    // stacks six stages, and EVERY downstream action re-pays Catalyst
    // analysis of the whole stack (measured at sf0.1: the p90 threshold
    // agg alone took 4.4 s on ~40k cached rows — planning, not data).
    // Cutting at train/scored/lm/kept caps every plan at one stage's
    // depth. localCheckpoint materializes eagerly (the frames are
    // needed anyway) and the ContextCleaner reclaims blocks on GC; a
    // cluster run that cannot afford lost-executor restarts sets
    // spark.graft.checkpointDir for a reliable (fs-backed) cut.
    def cut(df: DataFrame): DataFrame =
      if (!production) df
      else s.conf.getOption("spark.graft.checkpointDir") match {
        case Some(dir) =>
          s.sparkContext.setCheckpointDir(dir); df.checkpoint()
        case None => df.localCheckpoint()
      }
    val w = Window.partitionBy(md5(col("text")))
    val survivors = docs
      .withColumn("keeper", min(col("doc_id")).over(w))
      .filter(col("doc_id") === col("keeper"))
      .select(col("doc_id"), col("source"), col("text"))
    val cleaned = pin(spanDedupedDocs(survivors)
      .select(col("doc_id"), col("source"), col("clean_text").as("text")))
    val pairs = leakagePairsOf(s, cleaned)
    val sym = pairsBothWays(pairs)
    val leaky = sym
      .filter(splitCol(col("x")) === "train" && splitCol(col("y")) =!= "train")
      .select(col("x").as("doc_id")).distinct()
    // train is scanned by BOTH quality gates (the scoring chain and the
    // bigram-LM chain) — without materialization each gate re-runs the
    // decontamination pair chain (the banded LSH joins) from scratch
    val train = cut(cleaned
      .filter(splitCol(col("doc_id")) === "train")
      .join(leaky, Seq("doc_id"), "left_anti"))
    // scored and lm are INDEPENDENT chains over the checkpointed train —
    // materialize them concurrently (overlap independent jobs): the
    // second chain's tasks back-fill slots freed by the first chain's
    // straggler tail instead of waiting for a serialized job wall.
    // lm feeds the p90 threshold AND the gate join — its narrow
    // (doc_id, lm_pm) cut means the model chain runs once.
    val (scored, lm) = graft.operators.Overlap.both(s,
      cut(scoredOf(train)
        .select(col("doc_id"), col("source"), col("score_pm"),
          col("n_words").cast("long").as("n_toks"))),
      cut(lmScoresOf(train)
        .select(col("doc_id"), col("score_pm").as("lm_pm"))))
    // BOTH per-source gates from ONE aggregation pass: p10 ranks every
    // scored row; p90 ranks the lm-scored subset — percentile_disc skips
    // the NULL lm_pm rows the left join leaves, so its population is
    // exactly the old inner-join aggregation's (a source with no
    // lm-scored docs gets p90 NULL, the same verdict the old missing
    // lmThr row produced). One exchange + one broadcast instead of two
    // of each — two fewer serialized stage walls in a pipeline that is
    // almost pure stage-wall overhead (47 single-stage jobs, QProfile).
    val scoredLm = scored.join(lm, Seq("doc_id"), "left")
    val thr = scoredLm.groupBy(col("source"))
      .agg(
        expr("percentile_disc(0.1) WITHIN GROUP (ORDER BY score_pm)")
          .cast("long").as("p10"),
        expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY lm_pm)")
          .cast("long").as("p90"))
    val kept0 = scoredLm
      .join(broadcast(thr), Seq("source"))
      .filter(col("score_pm") >= col("p10") &&
        (col("lm_pm").isNull || col("lm_pm") <= col("p90")))
      .select(col("doc_id"), col("source"), col("n_toks"))
    // PrefixSum additionally embeds its input subtree THREE times in
    // one plan (range probe, subtotals, final pass) — without this cut
    // planning cost tripled on top of the stack depth (measured
    // 6.9 s -> 40 s at sf0.001 before any cuts existed).
    val kept = cut(kept0)
    // two-pass bucketed prefix sum, NOT a per-source ordered window: the
    // corpus has a handful of sources, so a per-source window would
    // funnel terabytes through one task at 100 TB (the bins are
    // bit-identical — see PrefixSum's monotone range-bucketing argument)
    val packed = graft.operators.PrefixSum
      .exclusive(kept, "source", "doc_id", "n_toks", "cum_before",
        packBuckets(s))
      .withColumn("bin", expr(s"cum_before DIV $PackBudget"))
      .select(col("doc_id"), col("source"), col("n_toks"), col("bin"))
    val corpus =
      packed.join(cleaned.select(col("doc_id"), col("text")), Seq("doc_id"))
    // checkpoint blocks (train/scored/lm/kept) are not in the release
    // list: checkpoint storage lives at the RDD layer and the
    // ContextCleaner reclaims it once the frames become unreachable (no
    // catalog entry to leak); cleaned is the one catalog pin
    val release = () => {
      if (production) { cleaned.unpersist(); () }
    }
    (corpus, release)
  }

  private val PackBudget = 256L

  /** Bucket count for the packing prefix sum — config-overridable so
    * specs can force a high bucket count through the two-pass path. */
  private def packBuckets(s: SparkSession): Int =
    graft.Conf.int(s, "spark.graft.pack.buckets",
      graft.operators.PrefixSum.DefaultBuckets)

  /** Gopher-style REPETITION filters, completing t09's static rules: a
    * duplicate-token rate (n_words − n_distinct_tokens) and the frequency
    * of the single most common 2-gram — the two signals that catch
    * boilerplate/spam documents whose token statistics otherwise look
    * fine. 2-grams reuse the numeric shingle chain (one MD5 per token,
    * polynomial combine — [[graft.functions.HashSketch.ShingleSeq]]'s
    * single fused pass). The per-doc mode (top-2-gram count) is a PER-ROW
    * fold — sort the gram array, take the max equal-run length — instead
    * of the explode→count→max→join-back formulation: zero extra shuffles,
    * one scan plus the narrow source rollup. The fold lambda references
    * only its own variables (TextFns evaluation-safety rule). Thresholds
    * are cross-multiplied integers: dup rate > 30%, top-2-gram rate
    * > 10%; the oracle computes the same mode relationally (unnest →
    * count → max), proving the fold. */
  private def t10(s: SparkSession, d: String): DataFrame = {
    graft.functions.HashSketch.register(s)
    docsWithTokens(s, d)
      .filter(col("n_words") >= 2)
      .withColumn("th", tokenHashSeq(col("text")))
      .withColumn("g2", graft.functions.HashSketch.shingleSeq(col("th"), 2))
      .withColumn("n_dup_toks",
        (col("n_words") - size(array_distinct(col("toks")))).cast("long"))
      // max run length over the sorted grams = occurrences of the mode
      .withColumn("top2", modeCount(col("g2")))
      .withColumn("f_dup",
        when(col("n_dup_toks") * 10L > col("n_words") * 3L, 1L).otherwise(0L))
      .withColumn("f_top2",
        when(col("top2") * 10L > col("n_words").cast("long"), 1L).otherwise(0L))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("f_dup")).as("n_fail_dup"),
        sum(col("f_top2")).as("n_fail_top2"),
        max(col("top2")).as("max_top2"))
  }

  /** PII-style detect + redact pass over the one corpus column that
    * actually carries digit runs (`events.props` JSON — `documents.text`
    * is lowercase words only): count the matches, measure the redacted
    * length. The pattern/replace pair is the exact shape of an
    * email/phone/SSN scrub in a production pipeline; ASCII classes keep
    * Java regex and DuckDB's RE2 byte-identical, and the oracle's
    * regexp_replace needs the 'g' flag to match Spark's replace-ALL
    * default. Pure per-row scan — no shuffle until the narrow rollup. */
  private def t11(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .withColumn("runs",
        regexp_extract_all(col("props"), lit("[0-9]+"), lit(0)))
      .withColumn("n_runs", size(col("runs")).cast("long"))
      .withColumn("digits_len",
        expr("aggregate(runs, 0L, (a, r) -> a + length(r))"))
      .withColumn("redacted_len",
        length(regexp_replace(col("props"), "[0-9]+", "#")).cast("long"))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_rows"),
        sum(col("n_runs")).as("n_matches"),
        sum(col("digits_len")).as("sum_match_len"),
        sum(col("redacted_len")).as("sum_redacted_len"))

  /** Greedy sequence packing — assign documents (in deterministic doc_id
    * order per source) to fixed token-budget bins by running token count:
    * bin = tokens-before-this-doc DIV budget, the one-pass packing rule a
    * training-data loader uses to build ~equal-size shards. The running
    * sum is [[graft.operators.PrefixSum.exclusive]]'s two-pass bucketed
    * decomposition, NOT a per-source ordered window — with a handful of
    * sources a per-source window serializes each source through one
    * task's sort at 100 TB; the bucketed form is bit-identical (monotone
    * range buckets) with parallelism sources × buckets. The rollup
    * reports bins and an integer per-mille fill factor. */
  private def t12(s: SparkSession, d: String): DataFrame = {
    val budget = 256L
    // pinned: PrefixSum's subtotal and final passes would otherwise each
    // re-tokenize the corpus (the range probe prunes to (source, doc_id)
    // and stays cheap); 24 bytes/row, released via Pinned.releaseAll
    val base = graft.Pinned.pin(docsWithTokens(s, d)
      .select(col("source"), col("doc_id"), col("n_words").cast("long").as("n_toks")))
    graft.operators.PrefixSum
      .exclusive(base, "source", "doc_id", "n_toks", "cum_before",
        packBuckets(s))
      .withColumn("bin", expr(s"cum_before DIV $budget"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_toks")).as("sum_tokens"),
        (max(col("bin")) + 1L).as("n_bins"),
        expr(s"(1000L * sum(n_toks)) DIV ((max(bin) + 1L) * $budget)")
          .as("fill_pm"))
  }

  /** Heavy-hitter vocabulary via the SpaceSaving sketch
    * ([[graft.functions.TopKAgg]] — bounded state per group regardless of
    * vocabulary size, the web-scale alternative to an exact token
    * groupBy-count). This corpus has 31 distinct tokens < capacity 64,
    * so the sketch runs in its EXACT regime (no evictions, est = lb =
    * true count, order-independent) and the query takes the full oracle
    * gate against DuckDB's exact counts; the eviction regime's bound
    * invariants (lb ≤ true ≤ est; guaranteed presence above n/capacity)
    * are asserted separately in TrainingOpsPropertySpec with a small
    * capacity on skewed data. */
  private def t13(s: SparkSession, d: String): DataFrame = {
    val topk = udaf(new graft.functions.TopKAgg(64),
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[String]())
    docsWithTokens(s, d)
      .select(explode(col("toks")).as("tok"))
      .agg(topk(col("tok")).as("entries"))
      .select(posexplode(col("entries")).as(Seq("rank0", "e")))
      .filter(col("rank0") < 10)
      .select(
        (col("rank0") + 1).cast("long").as("rank"),
        col("e.item").as("item"),
        col("e.est").as("est"),
        col("e.lb").as("lb"))
  }

  /** Epoch-shuffle order audit — the deterministic global training
    * order ([[graft.operators.EpochFeed.withOrder]], epoch 1) rolled up
    * per (source, position-decile): a well-shuffled corpus spreads every
    * source across all ten deciles, a sorted-by-source corpus
    * concentrates — the check a training job runs before trusting its
    * data order. `sum_pos`/`min_pos` make the oracle comparison
    * position-exact, not just count-exact: DuckDB replays the identical
    * order from the portable hash, so a single transposed document would
    * hash-mismatch. Global rank WITHOUT a global single-task sort — the
    * bucketed prefix-sum (see EpochFeed's scaladoc for the 100 TB
    * argument). */
  private def t24(s: SparkSession, d: String): DataFrame = {
    val ordered = graft.operators.EpochFeed.withOrder(
      documents(s, d).select(col("doc_id"), col("source")),
      epoch = 1, buckets = packBuckets(s))
    val tot = documents(s, d).agg(count(lit(1)).as("n_total"))
    ordered.crossJoin(broadcast(tot))
      .withColumn("decile", expr("(10L * pos) DIV n_total"))
      .groupBy(col("source"), col("decile"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("pos")).as("sum_pos"),
        min(col("pos")).as("min_pos"))
  }

  /** Token-balanced reader slices — [[graft.operators.EpochFeed.feed]]
    * splits epoch 1's deterministic order into 8 contiguous slices, one
    * per data-loader rank, balanced by TOKEN budget (not document
    * count): reader = (8 · tokens_before) DIV total_tokens, monotone in
    * position so each rank reads one contiguous range. The report per
    * reader (docs, tokens, position span) is what a trainer checks for
    * rank skew before launch; min/max_pos prove contiguity to the
    * oracle. Position counter and token running-total share ONE
    * bucketed prefix-sum pass ([[graft.operators.PrefixSum
    * .exclusiveMulti]]); the grand total is a 1-row broadcast. */
  private def t25(s: SparkSession, d: String): DataFrame = {
    // pinned: the feed's prefix-sum passes + the total would otherwise
    // each re-tokenize the corpus; 24 bytes/row (t12's discipline)
    val base = graft.Pinned.pin(docsWithTokens(s, d)
      .select(col("doc_id"), col("n_words").cast("long").as("n_toks")))
    graft.operators.EpochFeed.feed(base, epoch = 1, nReaders = 8,
        tokCol = "n_toks", buckets = packBuckets(s))
      .groupBy(col("reader"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_toks")).as("sum_tokens"),
        min(col("pos")).as("min_pos"),
        max(col("pos")).as("max_pos"))
  }

  /** Packed-sequence materialization — the step t12 only ACCOUNTS for:
    * each (source, bin) of the token-budget packing becomes one
    * training sequence, its documents concatenated in deterministic
    * doc_id order with a separator token. The report carries the
    * sequence's md5 (position-exact against the oracle: one transposed
    * or missing document changes the hash), doc count, and token mass.
    * Scale shape: the running-token bin assignment is the bucketed
    * prefix sum (t12's plan), and the per-bin `collect_list` is bounded
    * by the PACK BUDGET — a group is ~256 tokens of text by
    * construction, so the aggregation state is config-bounded, never
    * corpus-bounded. */
  private def t26(s: SparkSession, d: String): DataFrame = {
    val budget = 256L
    val base = graft.Pinned.pin(docsWithTokens(s, d)
      .select(col("source"), col("doc_id"),
        col("n_words").cast("long").as("n_toks"), col("text")))
    graft.operators.PrefixSum
      .exclusive(base, "source", "doc_id", "n_toks", "cum_before",
        packBuckets(s))
      .withColumn("bin", expr(s"cum_before DIV $budget"))
      .groupBy(col("source"), col("bin"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_toks")).as("sum_tokens"),
        expr("md5(concat_ws(' <|doc|> ', " +
          "transform(array_sort(collect_list(struct(doc_id, text))), " +
          "s -> s.text)))").as("seq_md5"))
  }

  /** Per-epoch mixture sampling — d13's per-source rate map resampled
    * with an EPOCH-SEEDED coin ([[graft.operators.EpochFeed
    * .mixtureKeep]]): every epoch sees a DIFFERENT deterministic subset
    * of each down-weighted source, so E epochs at rate r cover
    * `1-(1-r)^E` of the source instead of re-reading one frozen sample.
    * The rollup reports epochs 1 and 2 side by side with their overlap
    * — the independence a trainer audits (n_both ≈ r²·n, not r·n). One
    * scan, two per-row predicates, one narrow rollup. */
  private def t27(s: SparkSession, d: String): DataFrame = {
    val keep1 = graft.operators.EpochFeed
      .mixtureKeep(col("doc_id"), col("rate_pm"), 1)
    val keep2 = graft.operators.EpochFeed
      .mixtureKeep(col("doc_id"), col("rate_pm"), 2)
    documents(s, d)
      // the d13 rate map: 200–900‰ derived from the source name
      .withColumn("rate_pm",
        lit(200L) +
          (graft.functions.Portable.hash60(col("source"), 555) % 8L) * 100L)
      .withColumn("k1", keep1)
      .withColumn("k2", keep2)
      .groupBy(col("source"), col("rate_pm"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("k1"), 1L).otherwise(0L)).as("n_epoch1"),
        sum(when(col("k2"), 1L).otherwise(0L)).as("n_epoch2"),
        sum(when(col("k1") && col("k2"), 1L).otherwise(0L)).as("n_both"))
  }

  /** Per-source token-budget caps — the other half of mixture design:
    * d13/t27's rates say "keep 40‰ of source X", a budget says "at
    * most N tokens of source X this epoch" (the production lever that
    * caps low-quality web at a token count, not a ratio). A document
    * survives iff its source's running token total BEFORE it — taken
    * in the epoch-1 shuffle order ([[graft.operators.EpochFeed
    * .withSourceCum]]) — is under the source's budget: an
    * epoch-seeded deterministic random sample truncated at the
    * budget, overshooting by at most one document, different docs
    * next epoch. Budgets here derive from the source name (the config
    * stand-in, like d13's rates); the Nightly feed CLI takes explicit
    * `--budgets src=n,...`. Per-source tied prefix sum — the
    * low-cardinality partition key IS PrefixSum's target shape. */
  private def t28(s: SparkSession, d: String): DataFrame = {
    val base = graft.Pinned.pin(docsWithTokens(s, d)
      .select(col("source"), col("doc_id"),
        col("n_words").cast("long").as("n_toks")))
    graft.operators.EpochFeed
      .withSourceCum(base, epoch = 1, tokCol = "n_toks",
        buckets = packBuckets(s))
      .withColumn("budget",
        (lit(1L) +
          graft.functions.Portable.hash60(col("source"), 321) % 5L) * 100L)
      .withColumn("kept", col("src_cum_before") < col("budget"))
      .groupBy(col("source"), col("budget"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_toks")).as("sum_tokens"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("kept"), col("n_toks")).otherwise(0L))
          .as("kept_tokens"))
  }

  /** Line-level boilerplate cleaning — the standard crawl-cleaning step
    * BETWEEN raw HTML extraction and document-level quality scoring:
    * drop navigation/footer lines (too few words, or matching a
    * stop-phrase pattern) and keep the rest, per line, inside each
    * document. The testdata corpus is single-line by construction, so
    * the positive path runs on PLANTED multi-line variants (the
    * d01/t05 probe discipline — five docs re-planted with a 2-word
    * "subscribe now" line and a regex-matched cookie/click-here line
    * between two real copies of their text, expressed identically in
    * the oracle). Pure per-row array ops (split → filter → measure),
    * no shuffle before the narrow rollup; the kept-line chars come
    * from an `aggregate` fold, never re-concatenation. */
  private def t29(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val planted = docs.filter(col("doc_id") < 5)
      .withColumn("doc_id", col("doc_id") + lit(2L * graft.Tables.ProbeShift))
      .withColumn("text", concat_ws("\n",
        col("text"), lit("subscribe now"),
        lit("click here to accept our cookie policy"), col("text")))
    docs.unionByName(planted)
      .withColumn("lines", split(col("text"), "\n"))
      // the ONE rule definition, shared with ingest-time cleaning
      .withColumn("kept", keptLines(col("text")))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(size(col("lines"))).cast("long").as("n_lines"),
        sum(size(col("kept"))).cast("long").as("n_kept_lines"),
        sum(length(col("text"))).cast("long").as("chars_before"),
        sum(expr(
          "aggregate(kept, 0L, (a, l) -> a + length(l))"))
          .as("kept_chars"))
  }

  /** p05 — the COMPLETE trainer hand-off as one composed, oracled
    * pipeline (the p03 discipline applied to the feed family): d15's
    * train split → t27's per-epoch mixture rates → t28's per-source
    * token-budget caps → t24's epoch order → t25's token-balanced
    * reader slices, in exactly the order the `Nightly feed` CLI
    * composes them. The per-reader report carries `order_check` =
    * Σ (pos+1)·(doc_id mod 1000003) — an order-sensitive aggregate
    * checksum (a transposed pair changes it) that stays a plain sum,
    * never a corpus-sized collect. Every stage is an already-oracled
    * formula; what this entry proves is the COMPOSITION: one engine
    * disagreement anywhere in the five-stage chain hash-mismatches
    * the final eight rows. */
  private def p05(s: SparkSession, d: String): DataFrame = {
    val epoch = 1
    // fanOut at the consumer: the pinned base feeds ~12 downstream
    // passes (mixture, budget caps, three feed prefix sums), so its
    // cached partitioning IS the parallelism of the whole chain — a
    // one-row-group scan would pin one partition and serialize every
    // pass (p05 benched 5.3 s without the floor, 2.6 s with, r15).
    val base = graft.Pinned.pin(
      withTokens(graft.Tables.fanOut(documents(s, d)))
      .select(col("source"), col("doc_id"),
        col("n_words").cast("long").as("n_toks")))
    val train = base.filter(splitCol(col("doc_id")) === "train")
    val rated = train
      .withColumn("rate_pm",
        lit(200L) +
          (graft.functions.Portable.hash60(col("source"), 555) % 8L) * 100L)
      .filter(graft.operators.EpochFeed
        .mixtureKeep(col("doc_id"), col("rate_pm"), epoch))
      .drop("rate_pm")
    // pinned: feed's three prefix passes + the grand total would each
    // re-run the budget stage's own three-pass window chain (≈12
    // evaluations of the base); 24 bytes/row, released via releaseAll
    val capped = graft.Pinned.pin(graft.operators.EpochFeed
      .withSourceCum(rated, epoch, tokCol = "n_toks",
        buckets = packBuckets(s))
      .withColumn("budget",
        (lit(1L) +
          graft.functions.Portable.hash60(col("source"), 321) % 5L) * 100L)
      .filter(col("src_cum_before") < col("budget"))
      .drop("shuffle_key", "src_cum_before", "budget"))
    graft.operators.EpochFeed
      .feed(capped, epoch, nReaders = 8, tokCol = "n_toks",
        buckets = packBuckets(s))
      .groupBy(col("reader"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_toks")).as("sum_tokens"),
        min(col("pos")).as("min_pos"),
        max(col("pos")).as("max_pos"),
        sum((col("pos") + 1L) * (col("doc_id") % 1000003L))
          .as("order_check"))
  }

  /** Unique memory-sink names across the bench's warmup + measured
    * reps (an active-query name collision aborts writeStream.start). */
  private val streamOutSeq = new java.util.concurrent.atomic.AtomicLong

  /** x01 — the streaming family's bench surface: batch d21's span-dedup
    * rule AT INGEST ([[graft.streaming.IncrementalDedup.chunkSpans]] →
    * `detectSpanDups`), draining the corpus through a memory-source
    * stream in 4 doc_id-ordered micro-batches and reporting the
    * per-doc (n_chunks, n_kept) accounting. For an in-order stream the
    * verdicts equal batch d21's min-packed-key winners exactly
    * (IncrementalDedupSpec pins the agreement), so the oracle is d21's
    * SQL minus the clean-text digest. What the timing measures: 4
    * rounds of chunk-keyed state shuffle + flatMapGroupsWithState fold
    * — the real per-batch cost of the always-on ingest path, which no
    * batch query exercises. The driver-side collect is the memory
    * SOURCE standing in for the ingest bus (a production stream reads
    * its broker, never the driver); it feeds batches, it is not part
    * of any result computation. Each run's memory sink is a temp view
    * the returned frame reads; the next run drops it, so a session
    * holds at most one x01 sink however often x01 runs. */
  private def x01(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    implicit val sqlCtx = s.sqlContext
    import s.implicits._
    s.catalog.listTables().collect().map(_.name)
      .filter(_.startsWith("x01_span_out_")).foreach(s.catalog.dropTempView)
    val input = MemoryStream[graft.streaming.IncrementalDedup.Doc]
    val name = s"x01_span_out_${streamOutSeq.incrementAndGet()}"
    val q = graft.streaming.IncrementalDedup
      .detectSpanDups(graft.streaming.IncrementalDedup
        .chunkSpans(input.toDS(), ChunkW))
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName(name).start()
    try {
      val docs = documents(s, d).select(col("doc_id"), col("text"))
        .orderBy(col("doc_id"))
        .as[(Long, String)].collect()
      // 4 micro-batches: enough rounds to exercise cross-batch state
      // reuse, few enough that per-batch fixed cost (state shuffle +
      // sink commit) doesn't dwarf the fold being measured (8 batches
      // benched 5.1 s with the same per-row work)
      val per = math.max(1, (docs.length + 3) / 4)
      docs.grouped(per).foreach { b =>
        input.addData(b.map { case (id, t) =>
          graft.streaming.IncrementalDedup.Doc(id, t) }: _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    s.table(name)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"))
  }

  val queries: ListMap[String, (SparkSession, String) => DataFrame] = ListMap(
    "x01_stream_span_dedup" -> x01 _,
    "t01_text_stats" -> t01 _,
    "t02_quality_buckets" -> t02 _,
    "t03_langid_confusion" -> t03 _,
    "t04_token_counts" -> t04 _,
    "t05_fingerprint_dups" -> t05 _,
    "t06_winnowing_overlap" -> t06 _,
    "t07_tfidf_top_terms" -> t07 _,
    "t08_bpe_tokens" -> t08 _,
    "d01_exact_dup_groups" -> d01 _,
    "d02_exact_dedup_survivors" -> d02 _,
    "d03_minhash_lsh_pairs" -> d03 _,
    "d04_simhash_buckets" -> d04 _,
    "d05_ngram_jaccard_exact" -> d05 _,
    "d06_neardup_components" -> d06 _,
    "d07_simhash_hamming" -> d07 _,
    "d08_dedup_survivors" -> d08 _,
    "d09_source_signatures" -> d09 _,
    "d10_lsh_recall_report" -> d10 _,
    "t09_quality_rules" -> t09 _,
    "t10_repetition_rules" -> t10 _,
    "t11_pii_scrub" -> t11 _,
    "t12_sequence_packing" -> t12 _,
    "t13_heavy_hitters" -> t13 _,
    "d11_shingle_df_histogram" -> d11 _,
    "d12_contamination" -> d12 _,
    "d13_mixture_sample" -> d13 _,
    "d14_cluster_size_histogram" -> d14 _,
    "d15_train_split" -> d15 _,
    "d16_split_leakage" -> d16 _,
    "d18_train_decontaminated" -> d18 _,
    "d19_cross_source_dups" -> d19 _,
    "d20_quality_survivors" -> d20 _,
    "d17_soft_dedup_weights" -> d17 _,
    "t14_quality_gate" -> t14 _,
    "t15_bpe_merges" -> t15 _,
    "t16_bpe_compression" -> t16 _,
    "t17_freq_spectrum" -> t17 _,
    "t18_novel_bigrams" -> t18 _,
    "t19_bigram_lm_score" -> t19 _,
    "t20_vocab_richness" -> t20 _,
    "d21_span_dedup" -> d21 _,
    "d22_shard_plan" -> d22 _,
    "d23_substring_dedup" -> d23 _,
    "d24_delta_dedup" -> d24 _,
    "t21_overlap_chunks" -> t21 _,
    "t22_dsir_weights" -> t22 _,
    "t23_tokenizer_store" -> t23 _,
    "t24_epoch_order" -> t24 _,
    "t25_reader_slices" -> t25 _,
    "t26_packed_sequences" -> t26 _,
    "t27_mixture_epochs" -> t27 _,
    "t28_source_budget_caps" -> t28 _,
    "t29_line_cleaning" -> t29 _,
    "p01_corpus_pipeline" -> p01 _,
    "p02_corpus_report" -> p02 _,
    "p03_build_and_report" -> p03 _,
    "p04_incremental_shards" -> p04 _,
    "p05_training_epoch" -> p05 _,
  )

  /** p03 — [[buildAndReport]] as a query-surface entry: the composed
    * p01 shard build (write included) + p02 report over ONE documents
    * scan. Returns the report, so p02's oracle hash-verifies the
    * composition; Bench times it beside p01 + p02 standalone, making
    * the one-scan saving a MEASURED number instead of a plan pin. */
  private def p03(s: SparkSession, d: String): DataFrame =
    buildAndReport(s, d)._2

  /** p04 — the INCREMENTAL nightly corpus build: p01 is the full
    * rebuild a corpus runs once; this is the job that runs every night
    * after — dedup tonight's crawl against the d24 signature index
    * (never against the base text), gate and pack the admitted docs,
    * and write them as tonight's shard increment. Stages, each an
    * already-oracled formula:
    *
    *   delta verdicts vs the index ([[deltaVerdicts]], d24's rule) →
    *   admitted uniques intra-deduped ([[intraUniqueSigs]], the
    *   advance-fold rule) → t14's per-source p10 quality floor
    *   computed over the admitted set → t12's running-token packing
    *   ([[graft.operators.PrefixSum]], per-source bins) →
    *   [[graft.operators.ShardWriter]] hash shards.
    *
    * Returns the per-shard receipt (p01's shape) computed from the
    * files just written. The oracle recomputes the whole chain
    * relationally — d24's verdict CTEs + the intra-dedup + the p01
    * oracle's scored/threshold/packing/receipt fragments — so a hash
    * match proves the incremental night equals the declarative spec
    * end to end.
    *
    * Scale: the night's cost is |delta| + |index| (id-only band joins,
    * ~40 B/doc index rows) — never |base text|, which is the entire
    * point of running incrementally; packing and sharding touch only
    * the admitted docs. Confs: `spark.graft.p04.outDir`,
    * `spark.graft.p04.indexDir`, `spark.graft.p04.buildIndex=false`
    * to serve a pre-built index (the nightly posture — pair with
    * [[DeltaAxis.advance]] / the `graft.Nightly` CLI owning the
    * advance). */
  private[graft] def p04(s: SparkSession, d: String): DataFrame = {
    val outDir = s.conf.getOption("spark.graft.p04.outDir")
      .getOrElse(sys.props("java.io.tmpdir") + "/graft_p04_shards")
    shardReceipt(graft.operators.ShardWriter
      .writeDocs(p04Corpus(s, d, production = true), NShards, outDir))
  }

  /** p04's pre-write corpus frame. `production = false` skips the pins
    * and lineage cuts so PlanAuditSpec can inspect the fully-
    * declarative composition (the [[p01Corpus]] discipline). */
  private[graft] def p04Corpus(s: SparkSession, d: String,
      production: Boolean): DataFrame = {
    graft.functions.HashSketch.register(s)
    def pin(df: DataFrame): DataFrame =
      if (production) graft.Pinned.pin(df) else df
    val indexDir = s.conf.getOption("spark.graft.p04.indexDir")
      .getOrElse(sys.props("java.io.tmpdir") + "/graft_p04_index")
    val docs = documents(s, d)
    val isDelta =
      pmod(graft.functions.Portable.hash60(col("doc_id").cast("string"),
        424), lit(5L)) === 0L
    val deltaDocs = docs.filter(isDelta)
      .select(col("doc_id"), col("source"), col("text"))
    val delta = pin(d24Sig(deltaDocs))
    // the base-index write and the delta signature pass read DISJOINT
    // doc subsets — overlap them (independent jobs): the delta pin
    // materializes while the index write's commit tail drains, instead
    // of serializing two signature chains. No-ops in audit mode (no
    // pin to force) and when serving a pre-built index.
    if (graft.Conf.flag(s, "spark.graft.p04.buildIndex", true))
      graft.operators.Overlap.both(s,
        graft.operators.IndexGenerations.reset(s, indexDir,
          d24Sig(docs.filter(!isDelta))),
        if (production) { delta.count(); () } else ())
    val index = graft.operators.IndexGenerations.readByConf(s, indexDir)
    val v = deltaVerdicts(index, delta)
    val admittedIds = intraUniqueSigs(
      delta.join(v.filter(col("verdict") === "unique").select("doc_id"),
        Seq("doc_id")))
      .select("doc_id")
    gateAndPack(s, deltaDocs, admittedIds, production)
  }

  /** The admitted-delta gate + pack + text-rejoin stages shared by
    * [[p04Corpus]] and [[nightShards]]: t14's per-source p10 floor, t12's
    * bucketed prefix-sum packing, the narrow (doc_id, text) join
    * feeding the shard writer. Production mode pins the scored
    * projection (threshold agg + gate both scan it) and CUTS lineage
    * before the prefix sum — PrefixSum embeds its input subtree three
    * times in one plan, and without the cut p04's wall time at sf0.1
    * measured 8.1 s vs ~its d24-shaped floor (the p01Build lesson,
    * re-learned and re-measured here). */
  private def gateAndPack(s: SparkSession, deltaDocs: DataFrame,
      admittedIds: DataFrame, production: Boolean): DataFrame = {
    def pin(df: DataFrame): DataFrame =
      if (production) graft.Pinned.pin(df) else df
    def cut(df: DataFrame): DataFrame =
      if (!production) df
      else s.conf.getOption("spark.graft.checkpointDir") match {
        case Some(dir) =>
          s.sparkContext.setCheckpointDir(dir); df.checkpoint()
        case None => df.localCheckpoint()
      }
    // cap the verdict stack's lineage at the admission decision: the id
    // frame is tiny, and every downstream stage (scored pin, threshold
    // agg, gate, prefix sum, text rejoin, shard write) would otherwise
    // re-pay Catalyst analysis of the banded-join stack per action
    val ids = cut(admittedIds)
    val scored = pin(
      scoredOf(deltaDocs.join(ids, Seq("doc_id")))
        .select(col("doc_id"), col("source"), col("score_pm"),
          col("n_words").cast("long").as("n_toks")))
    val thr = scored.groupBy(col("source"))
      .agg(expr("percentile_disc(0.1) WITHIN GROUP (ORDER BY score_pm)")
        .cast("long").as("p10"))
    val kept = cut(scored
      .join(broadcast(thr), Seq("source"))
      .filter(col("score_pm") >= col("p10"))
      .select(col("doc_id"), col("source"), col("n_toks")))
    val packed = graft.operators.PrefixSum
      .exclusive(kept, "source", "doc_id", "n_toks", "cum_before",
        packBuckets(s))
      .withColumn("bin", expr(s"cum_before DIV $PackBudget"))
      .select(col("doc_id"), col("source"), col("n_toks"), col("bin"))
    packed.join(deltaDocs.select(col("doc_id"), col("text")), Seq("doc_id"))
  }

  /** The text axis's night corpus half ([[DeltaAxis.Text]]): the
    * night's admitted docs gated, packed and written as the
    * `nightDir` shard partition — p04's stages on the admitted set the
    * index fold consumes, so the two halves of a production night
    * CANNOT disagree on admission. Returns the per-shard receipt. */
  private[queries] def nightShards(s: SparkSession, deltaDocs: DataFrame,
      admitted: DataFrame, nightDir: String): DataFrame =
    shardReceipt(graft.operators.ShardWriter.writeDocs(
      gateAndPack(s, deltaDocs, admitted.select("doc_id"),
        production = true), NShards, nightDir))

  // ---- DuckDB oracles ----

  private val toksSql =
    "list_filter(string_split(text, ' '), t -> t <> '')"
  private val dsirTargetSql =
    DsirTarget.map(s => s"'$s'").mkString(", ")
  private val alphaSql =
    s"len(list_filter($toksSql, t -> regexp_matches(t, '^[a-zA-Z]{2,}$$')))"
  private val stopSql =
    s"len(list_filter($toksSql, t -> t IN ('the','a','of','and','to','in','is')))"
  /** SQL twin of [[bpeMerges]] ∘ the t15 word extraction: k chained
    * rounds of CTEs. The greedy-leftmost merge application is relational
    * here — positions matching the round's winning pair form consecutive
    * runs, and greedy keeps every OTHER match within a run (for lhs≠rhs
    * runs are singletons, so this is all of them; for lhs=rhs it is the
    * floor(L/2) pairwise contraction) — the run-parity window below;
    * kept positions emit the merged symbol and consume position i+1.
    * Proves the Spark-side fold implements the textbook scan.
    * MATERIALIZED: each round references its predecessor several times;
    * without it DuckDB re-inlines the whole chain per reference and the
    * query goes exponential in the round count. */
  private def t15Sql(nRounds: Int): String = {
    val base =
      """seqs_0 AS MATERIALIZED (
        |  SELECT word, COUNT(*)::BIGINT AS cnt,
        |    list_transform(range(1, length(word) + 1),
        |      i -> substr(word, i::INT, 1)) AS seq
        |  FROM (SELECT UNNEST(regexp_extract_all(lower(text), '[a-z]+')) AS word
        |        FROM documents)
        |  GROUP BY word)""".stripMargin
    val rounds = (1 to nRounds).map { r =>
      val prev = r - 1
      s"""pairs_$r AS MATERIALIZED (
         |  SELECT seq[i] AS lhs, seq[i + 1] AS rhs, SUM(cnt)::BIGINT AS pair_count
         |  FROM (SELECT cnt, seq, UNNEST(range(1, len(seq))) AS i
         |        FROM seqs_$prev WHERE len(seq) >= 2)
         |  GROUP BY 1, 2),
         |best_$r AS MATERIALIZED (
         |  SELECT $r::BIGINT AS merge_round, lhs, rhs, pair_count
         |  FROM pairs_$r ORDER BY pair_count DESC, lhs, rhs LIMIT 1),
         |mt_$r AS MATERIALIZED (
         |  SELECT t.word, t.cnt, t.i, t.seq[t.i] AS sym,
         |    (t.i < len(t.seq) AND t.seq[t.i] = b.lhs
         |       AND t.seq[t.i + 1] = b.rhs) AS hit,
         |    b.lhs || b.rhs AS m
         |  FROM (SELECT word, cnt, seq, UNNEST(range(1, len(seq) + 1)) AS i
         |        FROM seqs_$prev) t
         |  LEFT JOIN best_$r b ON TRUE),
         |keep_$r AS MATERIALIZED (
         |  SELECT word, i FROM (
         |    SELECT word, i,
         |      ROW_NUMBER() OVER (PARTITION BY word, i - rn ORDER BY i) - 1 AS off
         |    FROM (SELECT word, i,
         |            ROW_NUMBER() OVER (PARTITION BY word ORDER BY i) AS rn
         |          FROM mt_$r WHERE hit))
         |  WHERE off % 2 = 0),
         |seqs_$r AS MATERIALIZED (
         |  SELECT m.word, MAX(m.cnt) AS cnt,
         |    list(CASE WHEN k.i IS NOT NULL THEN m.m ELSE m.sym END
         |         ORDER BY m.i) AS seq
         |  FROM mt_$r m
         |  LEFT JOIN keep_$r k ON k.word = m.word AND k.i = m.i
         |  LEFT JOIN keep_$r kp ON kp.word = m.word AND kp.i = m.i - 1
         |  WHERE kp.i IS NULL
         |  GROUP BY m.word)""".stripMargin
    }.mkString(",\n")
    val union = (1 to nRounds).map(r => s"SELECT * FROM best_$r")
      .mkString(" UNION ALL ")
    // A round past full vocabulary merge has an empty pairs_r; its best_r
    // is empty (LIMIT 1 of nothing), so the union contributes no row —
    // matching the Spark chain's empty `best` and the trainer's early
    // stop — and the LEFT JOIN above keeps seqs_r the identity.
    s"WITH $base,\n$rounds\nSELECT merge_round, lhs, rhs, pair_count FROM ($union)"
  }

  /** SQL twin of t16 — the IDENTICAL CTE chain as [[t15Sql]] with the
    * accounting rollup over the final sequences instead of the merge
    * list. */
  private def t16Sql(nRounds: Int): String = {
    val chain = t15Sql(nRounds)
    val upToChain = chain.substring(0, chain.lastIndexOf("\nSELECT"))
    s"""$upToChain
       |SELECT COUNT(*) AS n_vocab_words,
       |  SUM(cnt)::BIGINT AS n_word_occurrences,
       |  SUM(cnt * length(word))::BIGINT AS tokens_before,
       |  SUM(cnt * len(seq))::BIGINT AS tokens_after,
       |  (1000 * SUM(cnt * len(seq)) // SUM(cnt * length(word)))::BIGINT
       |    AS compression_pm
       |FROM seqs_$nRounds""".stripMargin
  }

  /** SQL twin of t23: t16's relational chain — NO artifact anywhere —
    * plus the learned-merge count; a hash match therefore proves the
    * parquet round-trip + frozen serve fold equal training. */
  private def t23Sql(nRounds: Int): String = {
    val chain = t15Sql(nRounds)
    val upToChain = chain.substring(0, chain.lastIndexOf("\nSELECT"))
    val union = (1 to nRounds).map(r => s"SELECT * FROM best_$r")
      .mkString(" UNION ALL ")
    s"""$upToChain
       |SELECT COUNT(*) AS n_vocab_words,
       |  SUM(cnt)::BIGINT AS n_word_occurrences,
       |  SUM(cnt * length(word))::BIGINT AS tokens_before,
       |  SUM(cnt * len(seq))::BIGINT AS tokens_after,
       |  (1000 * SUM(cnt * len(seq)) // SUM(cnt * length(word)))::BIGINT
       |    AS compression_pm,
       |  (SELECT COUNT(*) FROM ($union))::BIGINT AS n_merges
       |FROM seqs_$nRounds""".stripMargin
  }

  /** SQL twin of [[splitCol]] — the one place the split hash exists on
    * the oracle side (d15/d16/d18 share it). */
  private def splitCaseSqlFor(idExpr: String): String = {
    val bucket = s"(${sqlHash60(s"$idExpr::VARCHAR", 777)} % 1000)"
    s"CASE WHEN $bucket < 800 THEN 'train' " +
      s"WHEN $bucket < 900 THEN 'val' ELSE 'test' END"
  }
  private lazy val splitCaseSql: String = splitCaseSqlFor("doc_id")

  /** SQL twin of [[scoredDocs]] — the one place the quality-score
    * formula exists on the oracle side (t02/t14 share it). */
  private lazy val scoredCte =
    s"""scored AS (
       |  SELECT doc_id, source,
       |    (1000 * ($stopSql + $alphaSql)) // len($toksSql) AS score_pm,
       |    len($toksSql) AS n_words
       |  FROM documents WHERE len($toksSql) > 0)""".stripMargin

  private def minhashSql(col: String): String = {
    val cs = mixConstants(MINHASH_K)
    "[" + (0 until MINHASH_K).map(i =>
      s"list_min(list_transform($col, h -> xor(h, ${cs(i)})))")
      .mkString(", ") + "]"
  }
  private def hash60ArraySql(col: String, seed: Int): String =
    s"list_transform($col, x -> ${sqlHash60("x", seed)})"
  private def bandKeySql(sig: String): String =
    "[" + (0 until BANDS).map(b =>
      s"md5($b || ',' || array_to_string(($sig)[${b * ROWS + 1}:${b * ROWS + ROWS}], ','))")
      .mkString(", ") + "]"
  // operates on a pre-hashed `hb` column (see d04/d07 oracle CTEs)
  private def simhashSqlBits(bits: Int): String = {
    val n = "len(hb)"
    (0 until bits).map { j =>
      val ones = s"len(list_filter(hb, h -> (h >> $j) & 1 = 1))"
      s"(CASE WHEN $ones * 2 > $n THEN ${1L << j} ELSE 0 END)"
    }.mkString("(", " + ", ")")
  }
  private val simhashSql = simhashSqlBits(16)
  private val fpSql =
    "md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z ]', '', 'g'), ' +', ' ', 'g')))"

  /** d05's exact all-pairs Jaccard — shared verbatim by the d06 component
    * oracle (embedded as a derived-table CTE), parameterized over the
    * source relation so the p01 oracle can run it on CLEANED text. */
  private def d05SqlFrom(rel: String): String =
    s"""WITH thm AS (
       |  SELECT doc_id,
       |    list_transform($toksSql, t -> ${sqlHash60("t", 0)} % ${graft.functions.TextFns.ShingleMod}) AS th
       |  FROM $rel),
       |hs AS (
       |  SELECT doc_id,
       |    list_distinct(list_transform(range(1, greatest(len(th) - $K + 2, 1)),
       |      i -> (${(0 until K).map(j => s"th[i+$j] * ${graft.functions.TextFns.ShingleCoef(j)}").mkString(" + ")}) % ${graft.functions.TextFns.ShingleMod})) AS ss
       |  FROM thm),
       |sized AS (SELECT doc_id, ss, len(ss) AS n FROM hs WHERE len(ss) > 0),
       |ex AS (SELECT doc_id, UNNEST(ss) AS shingle FROM sized),
       |inter AS (
       |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS inter
       |  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT a_id, b_id,
       |  (1000 * inter) // (sa.n + sb.n - inter) AS jaccard_pm
       |FROM inter
       |JOIN sized sa ON sa.doc_id = a_id
       |JOIN sized sb ON sb.doc_id = b_id
       |WHERE (1000 * inter) // (sa.n + sb.n - inter) >= 500""".stripMargin

  private val d05Sql: String = d05SqlFrom("documents")

  /** d03's LSH pipeline in SQL — shared verbatim by the d08 survivor oracle
    * (embedded as a derived table, same pattern as d05Sql/d06), likewise
    * parameterized over the source relation for p01. */
  private def d03SqlFrom(rel: String): String =
    s"""WITH thm AS (
       |  SELECT doc_id,
       |    list_transform($toksSql, t -> ${sqlHash60("t", 0)} % ${graft.functions.TextFns.ShingleMod}) AS th
       |  FROM $rel),
       |hs AS (
       |  SELECT doc_id,
       |    list_distinct(list_transform(range(1, greatest(len(th) - $K + 2, 1)),
       |      i -> (${(0 until K).map(j => s"th[i+$j] * ${graft.functions.TextFns.ShingleCoef(j)}").mkString(" + ")}) % ${graft.functions.TextFns.ShingleMod})) AS ss
       |  FROM thm),
       |sigs AS (
       |  SELECT doc_id, ss, ${minhashSql("ss")} AS sig
       |  FROM hs WHERE len(ss) > 0),
       |banded AS (
       |  SELECT doc_id, ss, UNNEST(${bandKeySql("sig")}) AS band_key
       |  FROM sigs),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
       |  FROM banded a JOIN banded b USING (band_key)
       |  WHERE a.doc_id < b.doc_id),
       |verified AS (
       |  SELECT a_id, b_id,
       |    len(list_filter(sa.ss, x -> list_contains(sb.ss, x))) AS inter,
       |    len(sa.ss) + len(sb.ss)
       |      - len(list_filter(sa.ss, x -> list_contains(sb.ss, x))) AS uni
       |  FROM cand
       |  JOIN sigs sa ON sa.doc_id = a_id
       |  JOIN sigs sb ON sb.doc_id = b_id)
       |SELECT a_id, b_id, (1000 * inter) // uni AS jaccard_pm
       |FROM verified WHERE (1000 * inter) // uni >= 500""".stripMargin

  private val d03Sql: String = d03SqlFrom("documents")

  /** SQL twin of [[leakagePairsOf]] over an arbitrary relation. */
  private def leakagePairsSqlFrom(rel: String): String =
    if (SparkSession.getActiveSession.exists(
        graft.Conf.flag(_, "spark.graft.dedup.leakage.exactPairs", false)))
      d05SqlFrom(rel)
    else d03SqlFrom(rel)

  /** Conf value as seen by the ACTIVE session (Verify dumps the oracle
    * JSON while its session is live) — so oracles generated from tunable
    * confs (`spark.graft.bpe.rounds`,
    * `spark.graft.dedup.leakage.exactPairs`) describe the SAME
    * computation the Spark side ran, and a correctness run under a
    * non-default conf verifies instead of reporting false mismatches. */
  private def activeBpeRounds: Int =
    SparkSession.getActiveSession.fold(BpeRounds)(bpeRoundsConf)

  /** SQL twin of [[leakagePairs]] — the d16/d18/d19 pair source. */
  private def leakagePairsSql: String = leakagePairsSqlFrom("documents")

  def oracle: ListMap[String, String] = {
    val m = oracle0
    // p03 is the COMPOSED buildAndReport pair returning p02's report —
    // p02's oracle verifies it verbatim: a hash match proves the
    // one-scan composition changed nothing semantically
    m + ("p03_build_and_report" -> m("p02_corpus_report"))
  }

  private def oracle0: ListMap[String, String] = ListMap(
    // x01: for a doc_id-ordered stream the span registry's verdicts
    // equal batch d21's min-packed-key winners (IncrementalDedupSpec),
    // so the oracle is d21's SQL with the per-doc accounting projection
    "x01_stream_span_dedup" ->
      s"""WITH tok AS (
         |  SELECT doc_id, $toksSql AS toks FROM documents),
         |chunks AS (
         |  SELECT doc_id, idx,
         |    array_to_string(toks[idx * $ChunkW + 1 : idx * $ChunkW + $ChunkW],
         |      ' ') AS chunk
         |  FROM (SELECT doc_id, toks,
         |          UNNEST(range((len(toks) - 1) // $ChunkW + 1)) AS idx
         |        FROM tok WHERE len(toks) > 0)),
         |first AS (
         |  SELECT chunk, MIN(doc_id * 1000000000 + idx) AS first_pk
         |  FROM chunks GROUP BY 1)
         |SELECT c.doc_id,
         |  COUNT(*)::BIGINT AS n_chunks,
         |  SUM(CASE WHEN c.doc_id * 1000000000 + c.idx = f.first_pk
         |           THEN 1 ELSE 0 END)::BIGINT AS n_kept
         |FROM chunks c JOIN first f USING (chunk)
         |GROUP BY 1""".stripMargin,
    "t01_text_stats" ->
      s"""SELECT lang, COUNT(*) AS n_docs,
         |  SUM(len($toksSql))::BIGINT AS sum_words,
         |  SUM($alphaSql)::BIGINT AS sum_alpha,
         |  SUM($stopSql)::BIGINT AS sum_stop,
         |  MAX(len($toksSql)) AS max_words
         |FROM documents GROUP BY lang""".stripMargin,
    "t02_quality_buckets" ->
      s"""WITH $scoredCte
         |SELECT score_pm // 100 AS bucket, COUNT(*) AS n_docs,
         |       SUM(n_words)::BIGINT AS sum_words
         |FROM scored GROUP BY 1""".stripMargin,
    "t14_quality_gate" ->
      s"""WITH $scoredCte,
         |thr AS (
         |  SELECT source, quantile_disc(score_pm, 0.1)::BIGINT AS p10
         |  FROM scored GROUP BY source)
         |SELECT s.source, t.p10, COUNT(*) AS n_docs,
         |  SUM(CASE WHEN s.score_pm >= t.p10 THEN 1 ELSE 0 END)::BIGINT
         |    AS n_kept
         |FROM scored s JOIN thr t USING (source) GROUP BY 1, 2""".stripMargin,
    "t15_bpe_merges" -> t15Sql(activeBpeRounds),
    "t16_bpe_compression" -> t16Sql(activeBpeRounds),
    "t23_tokenizer_store" -> t23Sql(activeBpeRounds),
    "t17_freq_spectrum" ->
      s"""WITH tf AS (
         |  SELECT term, COUNT(*)::BIGINT AS tf FROM (
         |    SELECT UNNEST($toksSql) AS term FROM documents)
         |  GROUP BY term)
         |SELECT (length(bin(tf)) - 1)::BIGINT AS bucket,
         |  COUNT(*) AS n_types,
         |  SUM(tf)::BIGINT AS sum_tf,
         |  MIN(tf)::BIGINT AS min_tf,
         |  MAX(tf)::BIGINT AS max_tf
         |FROM tf GROUP BY 1""".stripMargin,
    "t18_novel_bigrams" ->
      s"""WITH tok AS (
         |  SELECT doc_id, source, $toksSql AS toks FROM documents),
         |bg AS (
         |  SELECT DISTINCT doc_id, source, bigram FROM (
         |    SELECT doc_id, source,
         |      UNNEST(list_transform(range(1, len(toks)),
         |        i -> toks[i] || ' ' || toks[i + 1])) AS bigram
         |    FROM tok WHERE len(toks) >= 2)),
         |dfc AS (SELECT bigram, COUNT(*)::BIGINT AS df FROM bg GROUP BY 1)
         |SELECT source, COUNT(DISTINCT doc_id) AS n_docs,
         |  COUNT(*) AS sum_bigrams,
         |  SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END)::BIGINT AS sum_novel,
         |  ((1000 * SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END)) // COUNT(*))::BIGINT
         |    AS novelty_pm
         |FROM bg JOIN dfc USING (bigram)
         |GROUP BY source""".stripMargin,
    // SQL twin of d21: same chunking (1-based inclusive list slice =
    // Spark's slice(toks, i*W+1, W)), same packed first-occurrence key,
    // string_agg ORDER BY idx restores document order; the CASE leaves
    // NULL for cut chunks and string_agg skips NULLs exactly as
    // collect_list does — COALESCE('') makes the fully-cut doc digest
    // md5('') on both engines.
    "d21_span_dedup" ->
      s"""WITH tok AS (
         |  SELECT doc_id, source, $toksSql AS toks FROM documents),
         |chunks AS (
         |  SELECT doc_id, source, idx,
         |    array_to_string(toks[idx * $ChunkW + 1 : idx * $ChunkW + $ChunkW],
         |      ' ') AS chunk
         |  FROM (SELECT doc_id, source, toks,
         |          UNNEST(range((len(toks) - 1) // $ChunkW + 1)) AS idx
         |        FROM tok WHERE len(toks) > 0)),
         |first AS (
         |  SELECT chunk, MIN(doc_id * 1000000000 + idx) AS first_pk
         |  FROM chunks GROUP BY 1)
         |SELECT c.doc_id, c.source,
         |  COUNT(*)::BIGINT AS n_chunks,
         |  SUM(CASE WHEN c.doc_id * 1000000000 + c.idx = f.first_pk
         |           THEN 1 ELSE 0 END)::BIGINT AS n_kept,
         |  md5(COALESCE(string_agg(
         |    CASE WHEN c.doc_id * 1000000000 + c.idx = f.first_pk
         |         THEN c.chunk END, ' ' ORDER BY c.idx), '')) AS clean_md5
         |FROM chunks c JOIN first f USING (chunk)
         |GROUP BY 1, 2""".stripMargin,
    // SQL twin of d23: same 0-based k-gram positions (1-based inclusive
    // list slice), same packed global-first key, the same
    // gaps-and-islands merge (LAG NULL on the first anchor falls to the
    // ELSE 1 branch on both engines), string_agg ORDER BY s == Spark's
    // array_sort over disjoint (s, e) structs.
    "d23_substring_dedup" ->
      s"""WITH tok AS (
         |  SELECT doc_id, source, $toksSql AS toks FROM documents),
         |g AS (
         |  SELECT doc_id, i,
         |    array_to_string(toks[i + 1 : i + $SubstrK], ' ') AS gram,
         |    doc_id * 1000000000 + i AS pk
         |  FROM (SELECT doc_id, toks,
         |          UNNEST(range(len(toks) - $SubstrK + 1)) AS i
         |        FROM tok WHERE len(toks) >= $SubstrK)),
         |first AS (SELECT gram, MIN(pk) AS first_pk FROM g GROUP BY 1),
         |anch AS (
         |  SELECT g.doc_id, g.i FROM g JOIN first f USING (gram)
         |  WHERE g.pk > f.first_pk),
         |isl AS (
         |  SELECT doc_id, i,
         |    SUM(new_iv) OVER (PARTITION BY doc_id ORDER BY i) AS island
         |  FROM (SELECT doc_id, i,
         |          CASE WHEN i - LAG(i) OVER (PARTITION BY doc_id ORDER BY i)
         |                    <= $SubstrK THEN 0 ELSE 1 END AS new_iv
         |        FROM anch)),
         |iv AS (
         |  SELECT doc_id, island, MIN(i) AS s,
         |    MAX(i) + ${SubstrK - 1} AS e, COUNT(*) AS n_a
         |  FROM isl GROUP BY 1, 2),
         |rep AS (
         |  SELECT doc_id, SUM(n_a) AS n_anchors, COUNT(*) AS n_intervals,
         |    SUM(e - s + 1) AS n_removed,
         |    md5(string_agg(s || ':' || e, ',' ORDER BY s)) AS iv_md5
         |  FROM iv GROUP BY 1)
         |SELECT t.doc_id, t.source, len(t.toks)::BIGINT AS n_toks,
         |  COALESCE(r.n_anchors, 0)::BIGINT AS n_anchors,
         |  COALESCE(r.n_intervals, 0)::BIGINT AS n_intervals,
         |  COALESCE(r.n_removed, 0)::BIGINT AS n_removed,
         |  COALESCE(r.iv_md5, md5('')) AS iv_md5
         |FROM tok t LEFT JOIN rep r USING (doc_id)""".stripMargin,
    // SQL twin of d24: same hash split, same signature chain as d03's
    // oracle, the same component-match estimate (list positions i where
    // the two sigs agree), arg_min == Spark's min-struct winner (base
    // ids are unique per candidate pair).
    "d24_delta_dedup" ->
      s"""WITH thm AS (
         |  SELECT doc_id, source, text,
         |    list_transform($toksSql,
         |      t -> ${sqlHash60("t", 0)} % ${graft.functions.TextFns.ShingleMod}) AS th
         |  FROM documents),
         |hsx AS (
         |  SELECT doc_id, source, text,
         |    list_distinct(list_transform(range(1, greatest(len(th) - $K + 2, 1)),
         |      i -> (${(0 until K).map(j =>
                  s"th[i+$j] * ${graft.functions.TextFns.ShingleCoef(j)}")
                  .mkString(" + ")}) % ${graft.functions.TextFns.ShingleMod})) AS ss
         |  FROM thm),
         |sigd AS (
         |  SELECT doc_id, source,
         |    (${sqlHash60("doc_id::VARCHAR", 424)} % 5 = 0) AS is_delta,
         |    md5(text) AS content_hash,
         |    CASE WHEN len(ss) > 0 THEN ${minhashSql("ss")} END AS sig
         |  FROM hsx),
         |base AS (SELECT * FROM sigd WHERE NOT is_delta),
         |delta AS (SELECT * FROM sigd WHERE is_delta),
         |exact AS (
         |  SELECT d.doc_id, MIN(b.doc_id) AS exact_winner
         |  FROM delta d JOIN base b USING (content_hash) GROUP BY 1),
         |db AS (SELECT doc_id, UNNEST(${bandKeySql("sig")}) AS band_key
         |       FROM delta WHERE sig IS NOT NULL),
         |bb AS (SELECT doc_id AS base_id, UNNEST(${bandKeySql("sig")}) AS band_key
         |       FROM base WHERE sig IS NOT NULL),
         |cand AS (
         |  SELECT DISTINCT db.doc_id, bb.base_id
         |  FROM db JOIN bb USING (band_key)),
         |est AS (
         |  SELECT c.doc_id, c.base_id,
         |    (1000 * len(list_filter(range(1, ${MINHASH_K + 1}),
         |       i -> d.sig[i] = b.sig[i]))) // $MINHASH_K AS est_pm
         |  FROM cand c
         |  JOIN delta d ON d.doc_id = c.doc_id
         |  JOIN base b ON b.doc_id = c.base_id),
         |near AS (
         |  SELECT doc_id, MIN(base_id) AS near_winner,
         |    arg_min(est_pm, base_id) AS near_est
         |  FROM est WHERE est_pm >= 500 GROUP BY 1)
         |SELECT d.doc_id, d.source,
         |  CASE WHEN e.exact_winner IS NOT NULL THEN 'exact'
         |       WHEN n.near_winner IS NOT NULL THEN 'near'
         |       ELSE 'unique' END AS verdict,
         |  COALESCE(e.exact_winner, n.near_winner, -1)::BIGINT AS winner,
         |  (CASE WHEN e.exact_winner IS NOT NULL THEN 1000
         |        WHEN n.near_winner IS NOT NULL THEN n.near_est
         |        ELSE 0 END)::BIGINT AS est_pm
         |FROM delta d
         |LEFT JOIN exact e USING (doc_id)
         |LEFT JOIN near n USING (doc_id)""".stripMargin,
    // SQL twin of t21: ceil(n/S) windows per doc (range((n-1)//S + 1)),
    // the same 1-based inclusive slice (tail windows truncate on both
    // engines), LEAST for the short-tail token count.
    "t21_overlap_chunks" ->
      s"""WITH tok AS (
         |  SELECT doc_id, source, $toksSql AS toks FROM documents),
         |c AS (
         |  SELECT doc_id, source, len(toks) AS n_words, idx,
         |    array_to_string(
         |      toks[idx * $ChunkOvS + 1 : idx * $ChunkOvS + $ChunkOvW],
         |      ' ') AS chunk
         |  FROM (SELECT doc_id, source, toks,
         |          UNNEST(range((len(toks) - 1) // $ChunkOvS + 1)) AS idx
         |        FROM tok WHERE len(toks) > 0))
         |SELECT doc_id, source, idx::BIGINT AS idx,
         |  (idx * $ChunkOvS)::BIGINT AS t_start,
         |  LEAST($ChunkOvW, n_words - idx * $ChunkOvS)::BIGINT
         |    AS n_chunk_toks,
         |  md5(chunk) AS chunk_md5
         |FROM c""".stripMargin,
    // SQL twin of t22: one grouped pass builds both models (c_t as a
    // conditional sum), integer DIV per transition then per doc.
    "t22_dsir_weights" ->
      s"""WITH tok AS (
         |  SELECT doc_id, source, $toksSql AS toks FROM documents),
         |tr AS (
         |  SELECT doc_id, source, toks[i + 1] AS w1, toks[i + 2] AS w2
         |  FROM (SELECT doc_id, source, toks,
         |          UNNEST(range(len(toks) - 1)) AS i
         |        FROM tok WHERE len(toks) >= 2)),
         |m AS (
         |  SELECT w1, w2, COUNT(*)::BIGINT AS c_r,
         |    SUM(CASE WHEN source IN ($dsirTargetSql)
         |             THEN 1 ELSE 0 END)::BIGINT AS c_t
         |  FROM tr GROUP BY 1, 2)
         |SELECT doc_id, source, COUNT(*)::BIGINT AS n_trans,
         |  SUM((1000 * (c_t + 1)) // (c_r + 1))::BIGINT AS sum_aff_pm,
         |  (SUM((1000 * (c_t + 1)) // (c_r + 1)) // COUNT(*))::BIGINT
         |    AS aff_pm,
         |  (CASE WHEN source IN ($dsirTargetSql)
         |        THEN 1 ELSE 0 END)::BIGINT AS is_target
         |FROM tr JOIN m USING (w1, w2)
         |GROUP BY doc_id, source""".stripMargin,
    "t20_vocab_richness" ->
      s"""WITH tf AS (
         |  SELECT source, term, COUNT(*)::BIGINT AS tf FROM (
         |    SELECT source, UNNEST($toksSql) AS term FROM documents)
         |  GROUP BY 1, 2)
         |SELECT source, COUNT(*) AS n_types, SUM(tf)::BIGINT AS n_tokens,
         |  SUM(CASE WHEN tf = 1 THEN 1 ELSE 0 END)::BIGINT AS n_hapax,
         |  ((1000 * COUNT(*)) // SUM(tf))::BIGINT AS ttr_pm,
         |  ((1000 * SUM(CASE WHEN tf = 1 THEN 1 ELSE 0 END))
         |    // COUNT(*))::BIGINT AS hapax_pm
         |FROM tf GROUP BY source""".stripMargin,
    // SQL twin of d22: the same portable-MD5 shard assignment
    // (Portable.sqlHash60, seed and shard count interpolated from the
    // shared constants) and token counting as the Spark side.
    "d22_shard_plan" -> {
      val h = graft.functions.Portable.sqlHash60("doc_id::VARCHAR",
        graft.operators.ShardWriter.Seed)
      s"""SELECT ($h % $NShards) AS shard,
         |  COUNT(*) AS n_docs,
         |  SUM(len($toksSql))::BIGINT AS sum_words,
         |  MAX(len($toksSql))::BIGINT AS max_doc_words
         |FROM documents GROUP BY 1""".stripMargin
    },
    // SQL twin of t19: range(1, len) over 1-based lists = Spark's
    // sequence(0, size-2) over 0-based; prefix totals derived from the
    // bigram table, not a second corpus pass, same as the Spark side.
    "t19_bigram_lm_score" ->
      s"""WITH tok AS (
         |  SELECT doc_id, $toksSql AS toks FROM documents),
         |trans AS (
         |  SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
         |  FROM (SELECT doc_id, toks, UNNEST(range(1, len(toks))) AS i
         |        FROM tok WHERE len(toks) >= 2)),
         |bgc AS (
         |  SELECT w1, w2, COUNT(*)::BIGINT AS c_bg FROM trans GROUP BY 1, 2),
         |unc AS (SELECT w1, SUM(c_bg)::BIGINT AS c_w1 FROM bgc GROUP BY 1)
         |SELECT t.doc_id, COUNT(*)::BIGINT AS n_trans,
         |  SUM((1000 * c_w1) // c_bg)::BIGINT AS sum_inv_pm,
         |  (SUM((1000 * c_w1) // c_bg) // COUNT(*))::BIGINT AS score_pm
         |FROM trans t JOIN bgc USING (w1, w2) JOIN unc USING (w1)
         |GROUP BY 1""".stripMargin,
    "t03_langid_confusion" ->
      s"""SELECT lang,
         |  CASE WHEN len($toksSql) > 0
         |        AND $stopSql * 1000 >= len($toksSql) * 60
         |       THEN 'en' ELSE 'other' END AS predicted,
         |  COUNT(*) AS n_docs
         |FROM documents GROUP BY 1, 2""".stripMargin,
    "t04_token_counts" ->
      s"""SELECT source, SUM(len($toksSql))::BIGINT AS ws_tokens,
         |  SUM($alphaSql)::BIGINT AS alpha_tokens,
         |  SUM(LENGTH(text))::BIGINT AS n_bytes
         |FROM documents GROUP BY source""".stripMargin,
    "t05_fingerprint_dups" ->
      s"""WITH probe AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + ${graft.Tables.ProbeShift} AS doc_id,
         |    UPPER(text) AS text FROM documents WHERE doc_id < 3)
         |SELECT $fpSql AS fp, COUNT(*) AS n_dups,
         |  MIN(doc_id) AS canonical_id
         |FROM probe GROUP BY 1 HAVING COUNT(*) > 1""".stripMargin,
    "t06_winnowing_overlap" ->
      s"""WITH thm AS (
         |  SELECT doc_id,
         |    list_transform($toksSql, t -> ${sqlHash60("t", 0)} % ${graft.functions.TextFns.ShingleMod}) AS th
         |  FROM documents),
         |seq AS (
         |  SELECT doc_id,
         |    list_transform(range(1, greatest(len(th) - $K + 2, 1)),
         |      i -> (${(0 until K).map(j => s"th[i+$j] * ${graft.functions.TextFns.ShingleCoef(j)}").mkString(" + ")}) % ${graft.functions.TextFns.ShingleMod}) AS sq
         |  FROM thm),
         |fps AS (
         |  SELECT doc_id,
         |    list_distinct(list_transform(range(1, greatest(len(sq) - 4 + 2, 1)),
         |      i -> list_min(sq[i:i+3]))) AS fps
         |  FROM seq),
         |sized AS (SELECT doc_id, fps, len(fps) AS n FROM fps WHERE len(fps) > 0),
         |ex AS (SELECT doc_id, UNNEST(fps) AS fp FROM sized),
         |inter AS (
         |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS inter
         |  FROM ex a JOIN ex b ON a.fp = b.fp AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT a_id, b_id,
         |  (1000 * inter) // least(sa.n, sb.n) AS containment_pm
         |FROM inter
         |JOIN sized sa ON sa.doc_id = a_id
         |JOIN sized sb ON sb.doc_id = b_id
         |WHERE (1000 * inter) // least(sa.n, sb.n) >= 500""".stripMargin,
    "t07_tfidf_top_terms" ->
      s"""WITH tok AS (
         |  SELECT doc_id, lang, UNNEST($toksSql) AS token FROM documents),
         |dfreq AS (
         |  SELECT token, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY token),
         |tf AS (
         |  SELECT lang, token, COUNT(*) AS tf FROM tok GROUP BY lang, token)
         |SELECT lang, token, score, rk FROM (
         |  SELECT tf.lang, tf.token, (tf.tf * 1000000) // dfreq.df AS score,
         |    ROW_NUMBER() OVER (PARTITION BY tf.lang
         |      ORDER BY (tf.tf * 1000000) // dfreq.df DESC, tf.token ASC) AS rk
         |  FROM tf JOIN dfreq ON tf.token = dfreq.token)
         |WHERE rk <= 3""".stripMargin,
    "d01_exact_dup_groups" ->
      s"""WITH probe AS (
         |  ${graft.Tables.probeDocsSql})
         |SELECT md5(text) AS text_hash, COUNT(*) AS n_dups,
         |  MIN(doc_id) AS canonical_id
         |FROM probe GROUP BY 1 HAVING COUNT(*) > 1""".stripMargin,
    "d02_exact_dedup_survivors" ->
      """SELECT source, COUNT(*) AS n_docs_after FROM (
        |  SELECT source, doc_id,
        |    MIN(doc_id) OVER (PARTITION BY md5(text)) AS keeper
        |  FROM documents)
        |WHERE doc_id = keeper GROUP BY source""".stripMargin,
    "d03_minhash_lsh_pairs" -> d03Sql,
    "d05_ngram_jaccard_exact" -> d05Sql,
    "d06_neardup_components" ->
      s"""WITH RECURSIVE pairs AS (SELECT a_id, b_id FROM ($d05Sql)),
         |edges AS (
         |  SELECT a_id AS a, b_id AS b FROM pairs
         |  UNION ALL
         |  SELECT b_id AS a, a_id AS b FROM pairs),
         |nodes AS (SELECT DISTINCT a AS node FROM edges),
         |reach(node, label) AS (
         |  SELECT node, node FROM nodes
         |  UNION
         |  SELECT e.b, r.label FROM reach r JOIN edges e ON e.a = r.node)
         |SELECT node AS doc_id, MIN(label) AS comp
         |FROM reach GROUP BY node""".stripMargin,
    "d17_soft_dedup_weights" ->
      s"""WITH RECURSIVE pairs AS (SELECT a_id, b_id FROM ($d03Sql)),
         |edges AS (
         |  SELECT a_id AS a, b_id AS b FROM pairs
         |  UNION ALL
         |  SELECT b_id AS a, a_id AS b FROM pairs),
         |nodes AS (SELECT DISTINCT a AS node FROM edges),
         |reach(node, label) AS (
         |  SELECT node, node FROM nodes
         |  UNION
         |  SELECT e.b, r.label FROM reach r JOIN edges e ON e.a = r.node),
         |comp AS (SELECT node AS doc_id, MIN(label) AS comp
         |         FROM reach GROUP BY node),
         |sizes AS (SELECT comp, COUNT(*) AS csize FROM comp GROUP BY comp),
         |weights AS (
         |  SELECT c.doc_id, greatest(1000 // s.csize, 1)::BIGINT AS w_pm
         |  FROM comp c JOIN sizes s USING (comp))
         |SELECT d.source, COUNT(*) AS n_docs,
         |  SUM(COALESCE(w.w_pm, 1000))::BIGINT AS eff_pm,
         |  MIN(COALESCE(w.w_pm, 1000))::BIGINT AS min_w_pm
         |FROM documents d LEFT JOIN weights w ON w.doc_id = d.doc_id
         |GROUP BY d.source""".stripMargin,
    "d14_cluster_size_histogram" ->
      s"""WITH RECURSIVE pairs AS (SELECT a_id, b_id FROM ($d05Sql)),
         |edges AS (
         |  SELECT a_id AS a, b_id AS b FROM pairs
         |  UNION ALL
         |  SELECT b_id AS a, a_id AS b FROM pairs),
         |nodes AS (SELECT DISTINCT a AS node FROM edges),
         |reach(node, label) AS (
         |  SELECT node, node FROM nodes
         |  UNION
         |  SELECT e.b, r.label FROM reach r JOIN edges e ON e.a = r.node),
         |comp AS (SELECT node, MIN(label) AS comp FROM reach GROUP BY node),
         |sizes AS (SELECT comp, COUNT(*)::BIGINT AS cluster_size
         |          FROM comp GROUP BY comp)
         |SELECT cluster_size, COUNT(*) AS n_clusters
         |FROM sizes GROUP BY cluster_size""".stripMargin,
    "t08_bpe_tokens" ->
      """SELECT lang, COUNT(*) AS n_docs,
        |  SUM(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]+')))::BIGINT AS bpe_tokens,
        |  MAX(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]+')))::BIGINT AS max_bpe
        |FROM documents GROUP BY lang""".stripMargin,
    "d04_simhash_buckets" ->
      s"""WITH hashed AS (
         |  SELECT doc_id, ${hash60ArraySql(toksSql, 999)} AS hb
         |  FROM documents WHERE len($toksSql) > 0)
         |SELECT ($simhashSql)::BIGINT AS sh, COUNT(*) AS n_docs,
         |  MIN(doc_id) AS canonical_id
         |FROM hashed GROUP BY 1 HAVING COUNT(*) > 1""".stripMargin,
    "d10_lsh_recall_report" ->
      s"""WITH lsh AS (SELECT a_id, b_id FROM ($d03Sql)),
         |ex AS (SELECT a_id, b_id FROM ($d05Sql)),
         |tp AS (SELECT a_id, b_id FROM lsh SEMI JOIN ex USING (a_id, b_id))
         |SELECT
         |  (SELECT COUNT(*) FROM lsh) AS n_lsh,
         |  (SELECT COUNT(*) FROM ex) AS n_exact,
         |  (SELECT COUNT(*) FROM tp) AS n_tp,
         |  CASE WHEN (SELECT COUNT(*) FROM ex) > 0
         |       THEN (1000 * (SELECT COUNT(*) FROM tp))
         |              // (SELECT COUNT(*) FROM ex)
         |       ELSE 1000 END AS recall_pm""".stripMargin,
    "d08_dedup_survivors" ->
      s"""WITH RECURSIVE pairs AS (SELECT a_id, b_id FROM ($d03Sql)),
         |edges AS (
         |  SELECT a_id AS a, b_id AS b FROM pairs
         |  UNION ALL
         |  SELECT b_id AS a, a_id AS b FROM pairs),
         |nodes AS (SELECT DISTINCT a AS node FROM edges),
         |reach(node, label) AS (
         |  SELECT node, node FROM nodes
         |  UNION
         |  SELECT e.b, r.label FROM reach r JOIN edges e ON e.a = r.node),
         |comp AS (SELECT node AS doc_id, MIN(label) AS comp
         |         FROM reach GROUP BY node)
         |SELECT d.source, COUNT(*) AS n_before,
         |  SUM(CASE WHEN c.comp IS NULL OR c.comp = d.doc_id
         |       THEN 1 ELSE 0 END)::BIGINT AS n_after
         |FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id
         |GROUP BY d.source""".stripMargin,
    "d09_source_signatures" ->
      s"""WITH thm AS (
         |  SELECT source,
         |    list_transform($toksSql, t -> ${sqlHash60("t", 0)} % ${graft.functions.TextFns.ShingleMod}) AS th
         |  FROM documents),
         |hs AS (
         |  SELECT source,
         |    list_distinct(list_transform(range(1, greatest(len(th) - $K + 2, 1)),
         |      i -> (${(0 until K).map(j => s"th[i+$j] * ${graft.functions.TextFns.ShingleCoef(j)}").mkString(" + ")}) % ${graft.functions.TextFns.ShingleMod})) AS ss
         |  FROM thm),
         |sigs AS (
         |  SELECT source, ${minhashSql("ss")} AS sig
         |  FROM hs WHERE len(ss) > 0)
         |SELECT source,
         |  ${(1 to MINHASH_K).map(i => f"MIN(sig[$i]) AS sig_$i%02d").mkString(", ")},
         |  COUNT(*) AS n_docs
         |FROM sigs GROUP BY source""".stripMargin,
    "t09_quality_rules" ->
      s"""WITH f AS (
         |  SELECT source,
         |    len($toksSql) AS n_words,
         |    COALESCE(list_sum(list_transform($toksSql, t -> length(t))), 0)::BIGINT AS sum_tok_len,
         |    (length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')))::BIGINT AS n_sym,
         |    length(text)::BIGINT AS n_chars,
         |    $stopSql AS n_stop
         |  FROM documents),
         |flags AS (
         |  SELECT source,
         |    CASE WHEN n_words < 50 THEN 1 ELSE 0 END AS f_short,
         |    CASE WHEN sum_tok_len < n_words * 3
         |           OR sum_tok_len > n_words * 10 THEN 1 ELSE 0 END AS f_wordlen,
         |    CASE WHEN n_sym * 1000 > n_chars * 100 THEN 1 ELSE 0 END AS f_symbol,
         |    CASE WHEN n_stop < 2 THEN 1 ELSE 0 END AS f_stop
         |  FROM f)
         |SELECT source, COUNT(*) AS n_docs,
         |  SUM(f_short)::BIGINT AS n_fail_short,
         |  SUM(f_wordlen)::BIGINT AS n_fail_wordlen,
         |  SUM(f_symbol)::BIGINT AS n_fail_symbol,
         |  SUM(f_stop)::BIGINT AS n_fail_stop,
         |  SUM(CASE WHEN f_short + f_wordlen + f_symbol + f_stop = 0
         |       THEN 1 ELSE 0 END)::BIGINT AS n_pass_all
         |FROM flags GROUP BY source""".stripMargin,
    // The oracle does the naive all-pairs hamming scan — which also proves
    // the Spark side's pigeonhole banding loses no pairs.
    "d07_simhash_hamming" ->
      s"""WITH hashed AS (
         |  SELECT doc_id, ${hash60ArraySql(toksSql, 999)} AS hb
         |  FROM documents WHERE len($toksSql) > 0),
         |sh AS (SELECT doc_id, (${simhashSqlBits(48)})::BIGINT AS sh FROM hashed)
         |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |  bit_count(xor(a.sh, b.sh))::BIGINT AS hamming
         |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.sh, b.sh)) <= 3""".stripMargin,
    "t10_repetition_rules" ->
      s"""WITH base AS (
         |  SELECT doc_id, source, toks, len(toks)::BIGINT AS n_words,
         |    (len(toks) - len(list_distinct(toks)))::BIGINT AS n_dup_toks
         |  FROM (SELECT doc_id, source, $toksSql AS toks FROM documents)
         |  WHERE len(toks) >= 2),
         |thm AS (
         |  SELECT doc_id, list_transform(toks,
         |    t -> ${sqlHash60("t", 0)} % $ShingleMod) AS th
         |  FROM base),
         |g2 AS (
         |  SELECT doc_id, unnest(list_transform(range(1, greatest(len(th), 1)),
         |    i -> (th[i+0] * ${ShingleCoef(0)} + th[i+1] * ${ShingleCoef(1)})
         |         % $ShingleMod)) AS g
         |  FROM thm),
         |top AS (
         |  SELECT doc_id, MAX(c)::BIGINT AS top2 FROM (
         |    SELECT doc_id, g, COUNT(*) AS c FROM g2 GROUP BY doc_id, g)
         |  GROUP BY doc_id),
         |fl AS (
         |  SELECT b.source, t.top2,
         |    CASE WHEN b.n_dup_toks * 10 > b.n_words * 3 THEN 1 ELSE 0 END AS f_dup,
         |    CASE WHEN t.top2 * 10 > b.n_words THEN 1 ELSE 0 END AS f_top2
         |  FROM base b JOIN top t ON t.doc_id = b.doc_id)
         |SELECT source, COUNT(*) AS n_docs,
         |  SUM(f_dup)::BIGINT AS n_fail_dup,
         |  SUM(f_top2)::BIGINT AS n_fail_top2,
         |  MAX(top2)::BIGINT AS max_top2
         |FROM fl GROUP BY source""".stripMargin,
    "t11_pii_scrub" ->
      """SELECT event_type, COUNT(*) AS n_rows,
        |  SUM(len(regexp_extract_all(props, '[0-9]+')))::BIGINT AS n_matches,
        |  SUM(COALESCE(list_sum(list_transform(
        |    regexp_extract_all(props, '[0-9]+'), r -> length(r))), 0))::BIGINT
        |    AS sum_match_len,
        |  SUM(length(regexp_replace(props, '[0-9]+', '#', 'g')))::BIGINT
        |    AS sum_redacted_len
        |FROM events GROUP BY event_type""".stripMargin,
    // the sketch runs in its exact regime here (vocab < capacity), so the
    // oracle is the plain exact top-10 count
    "t13_heavy_hitters" ->
      s"""WITH tok AS (SELECT unnest($toksSql) AS item FROM documents),
         |cnt AS (SELECT item, COUNT(*)::BIGINT AS est FROM tok GROUP BY item)
         |SELECT ROW_NUMBER() OVER (ORDER BY est DESC, item ASC)::BIGINT AS rank,
         |  item, est, est AS lb
         |FROM cnt ORDER BY est DESC, item ASC LIMIT 10""".stripMargin,
    "t12_sequence_packing" ->
      s"""WITH t AS (
         |  SELECT source, doc_id, len($toksSql)::BIGINT AS n_toks
         |  FROM documents),
         |c AS (
         |  SELECT source, n_toks,
         |    COALESCE(SUM(n_toks) OVER (PARTITION BY source ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS cum_before
         |  FROM t),
         |b AS (SELECT source, n_toks, cum_before // 256 AS bin FROM c)
         |SELECT source, COUNT(*) AS n_docs,
         |  SUM(n_toks)::BIGINT AS sum_tokens,
         |  (MAX(bin) + 1)::BIGINT AS n_bins,
         |  ((1000 * SUM(n_toks)) // ((MAX(bin) + 1) * 256))::BIGINT AS fill_pm
         |FROM b GROUP BY source""".stripMargin,
    "d15_train_split" ->
      s"""SELECT $splitCaseSql AS split, source,
         |  COUNT(*) AS n_docs, SUM(n_chars)::BIGINT AS total_chars
         |FROM documents GROUP BY 1, 2""".stripMargin,
    "d16_split_leakage" ->
      s"""WITH pairs AS (SELECT a_id, b_id FROM ($leakagePairsSql)),
         |sp AS (SELECT doc_id, $splitCaseSql AS split FROM documents)
         |SELECT least(a.split, b.split) AS split_lo,
         |  greatest(a.split, b.split) AS split_hi,
         |  COUNT(*) AS n_pairs
         |FROM pairs
         |JOIN sp a ON a.doc_id = pairs.a_id
         |JOIN sp b ON b.doc_id = pairs.b_id
         |GROUP BY 1, 2""".stripMargin,
    "d18_train_decontaminated" ->
      s"""WITH pairs AS (SELECT a_id, b_id FROM ($leakagePairsSql)),
         |sym AS (
         |  SELECT a_id AS x, b_id AS y FROM pairs
         |  UNION ALL
         |  SELECT b_id AS x, a_id AS y FROM pairs),
         |leaky AS (
         |  SELECT DISTINCT x AS doc_id FROM sym
         |  WHERE ${splitCaseSqlFor("x")} = 'train'
         |    AND ${splitCaseSqlFor("y")} <> 'train'),
         |tr AS (
         |  SELECT doc_id, source FROM documents
         |  WHERE $splitCaseSql = 'train')
         |SELECT tr.source, COUNT(*) AS n_train_before,
         |  SUM(CASE WHEN l.doc_id IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
         |    AS n_dropped,
         |  (COUNT(*) - SUM(CASE WHEN l.doc_id IS NOT NULL THEN 1 ELSE 0 END))::BIGINT
         |    AS n_train_after
         |FROM tr LEFT JOIN leaky l USING (doc_id)
         |GROUP BY tr.source""".stripMargin,
    "d20_quality_survivors" ->
      s"""WITH RECURSIVE pairs AS (SELECT a_id, b_id FROM ($d03Sql)),
         |edges AS (
         |  SELECT a_id AS a, b_id AS b FROM pairs
         |  UNION ALL
         |  SELECT b_id AS a, a_id AS b FROM pairs),
         |nodes AS (SELECT DISTINCT a AS node FROM edges),
         |reach(node, label) AS (
         |  SELECT node, node FROM nodes
         |  UNION
         |  SELECT e.b, r.label FROM reach r JOIN edges e ON e.a = r.node),
         |comp AS (SELECT node AS doc_id, MIN(label) AS comp
         |         FROM reach GROUP BY node),
         |$scoredCte,
         |q AS (
         |  SELECT c.comp, c.doc_id, COALESCE(s.score_pm, -1) AS q
         |  FROM comp c LEFT JOIN scored s ON s.doc_id = c.doc_id),
         |sw AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id <> comp THEN 1 ELSE 0 END AS switched
         |  FROM (
         |    SELECT comp, doc_id,
         |      ROW_NUMBER() OVER (PARTITION BY comp
         |        ORDER BY q DESC, doc_id ASC) AS rk
         |    FROM q) WHERE rk = 1)
         |SELECT d.source, COUNT(*) AS n_before,
         |  SUM(CASE WHEN c.comp IS NULL OR s.doc_id IS NOT NULL
         |       THEN 1 ELSE 0 END)::BIGINT AS n_after,
         |  SUM(COALESCE(s.switched, 0))::BIGINT AS n_switched
         |FROM documents d
         |LEFT JOIN comp c ON c.doc_id = d.doc_id
         |LEFT JOIN sw s ON s.doc_id = d.doc_id
         |GROUP BY d.source""".stripMargin,
    "d19_cross_source_dups" ->
      s"""WITH pairs AS (SELECT a_id, b_id, jaccard_pm FROM ($leakagePairsSql))
         |SELECT least(da.source, db.source) AS src_a,
         |  greatest(da.source, db.source) AS src_b,
         |  COUNT(*) AS n_pairs,
         |  SUM(jaccard_pm)::BIGINT AS sum_jacc
         |FROM pairs
         |JOIN documents da ON da.doc_id = a_id
         |JOIN documents db ON db.doc_id = b_id
         |GROUP BY 1, 2""".stripMargin,
    "d13_mixture_sample" ->
      s"""WITH flags AS (
         |  SELECT source,
         |    200 + (${sqlHash60("source", 555)} % 8) * 100 AS rate_pm,
         |    (${sqlHash60("doc_id::VARCHAR", 888)} % 1000)
         |      < (200 + (${sqlHash60("source", 555)} % 8) * 100) AS keep
         |  FROM documents)
         |SELECT source, rate_pm, COUNT(*) AS n_docs,
         |  SUM(CASE WHEN keep THEN 1 ELSE 0 END)::BIGINT AS n_sampled,
         |  ((1000 * SUM(CASE WHEN keep THEN 1 ELSE 0 END)) // COUNT(*))::BIGINT
         |    AS realized_pm
         |FROM flags GROUP BY source, rate_pm""".stripMargin,
    "d12_contamination" ->
      s"""WITH thm AS (
         |  SELECT doc_id,
         |    list_transform($toksSql, t -> ${sqlHash60("t", 0)} % $ShingleMod) AS th
         |  FROM documents),
         |hs AS (
         |  SELECT doc_id,
         |    list_distinct(list_transform(range(1, greatest(len(th) - $K + 2, 1)),
         |      i -> (${(0 until K).map(j => s"th[i+$j] * ${ShingleCoef(j)}").mkString(" + ")}) % $ShingleMod)) AS ss
         |  FROM thm),
         |hsx AS (SELECT doc_id, ss FROM hs WHERE len(ss) > 0),
         |probe AS (
         |  SELECT doc_id AS probe_id, len(ss)::BIGINT AS n_shingles,
         |    unnest(ss) AS shingle
         |  FROM hsx WHERE doc_id < 10),
         |corpus AS (
         |  SELECT DISTINCT unnest(ss) AS shingle FROM hsx WHERE doc_id >= 10),
         |shared AS (
         |  SELECT probe_id, COUNT(*)::BIGINT AS n_shared
         |  FROM probe SEMI JOIN corpus USING (shingle)
         |  GROUP BY probe_id),
         |base AS (SELECT DISTINCT probe_id, n_shingles FROM probe)
         |SELECT b.probe_id, b.n_shingles,
         |  COALESCE(s.n_shared, 0)::BIGINT AS n_shared,
         |  ((1000 * COALESCE(s.n_shared, 0)) // b.n_shingles)::BIGINT
         |    AS contamination_pm
         |FROM base b LEFT JOIN shared s ON s.probe_id = b.probe_id""".stripMargin,
    "d11_shingle_df_histogram" ->
      s"""WITH thm AS (
         |  SELECT doc_id,
         |    list_transform($toksSql, t -> ${sqlHash60("t", 0)} % $ShingleMod) AS th
         |  FROM documents),
         |hs AS (
         |  SELECT doc_id,
         |    list_distinct(list_transform(range(1, greatest(len(th) - $K + 2, 1)),
         |      i -> (${(0 until K).map(j => s"th[i+$j] * ${ShingleCoef(j)}").mkString(" + ")}) % $ShingleMod)) AS ss
         |  FROM thm),
         |g AS (SELECT unnest(ss) AS g FROM hs WHERE len(ss) > 0),
         |df AS (SELECT g, COUNT(*)::BIGINT AS df FROM g GROUP BY g)
         |SELECT least(df, 5)::BIGINT AS df_bucket,
         |  COUNT(*) AS n_shingles,
         |  SUM(df)::BIGINT AS sum_occurrences
         |FROM df GROUP BY 1""".stripMargin,
    // SQL twin of p01 — the stage oracles composed as CTEs in pipeline
    // order: d02's winner rule, d21's chunk/first/rebuild (string_agg of
    // kept chunks = the clean text), the leakage pair chain over the
    // CLEAN relation, d18's drop rule, t14's p10 floor + t19's p90
    // ceiling (both computed over the decontaminated train corpus), t12's
    // SQL twin of p02: the d02 winner rule, d21's chunk accounting, the
    // t14 decile, and t19's LM mean — each the SAME formula its
    // standalone oracle uses, joined per source.
    "p02_corpus_report" ->
      s"""WITH tok AS (
         |  SELECT doc_id, source, text, $toksSql AS toks FROM documents),
         |firsts AS (
         |  SELECT doc_id, source, len(toks) AS n_words,
         |    MIN(doc_id) OVER (PARTITION BY md5(text)) AS keeper
         |  FROM tok),
         |basics AS (
         |  SELECT source, COUNT(*) AS n_docs,
         |    SUM(n_words)::BIGINT AS sum_toks,
         |    SUM(CASE WHEN doc_id <> keeper THEN 1 ELSE 0 END)::BIGINT
         |      AS n_exact_dup
         |  FROM firsts GROUP BY 1),
         |chunks AS (
         |  SELECT doc_id, source, idx,
         |    array_to_string(toks[idx * $ChunkW + 1 : idx * $ChunkW + $ChunkW],
         |      ' ') AS chunk
         |  FROM (SELECT doc_id, source, toks,
         |          UNNEST(range((len(toks) - 1) // $ChunkW + 1)) AS idx
         |        FROM tok WHERE len(toks) > 0)),
         |firstc AS (
         |  SELECT chunk, MIN(doc_id * 1000000000 + idx) AS first_pk
         |  FROM chunks GROUP BY 1),
         |span AS (
         |  SELECT source, COUNT(*)::BIGINT AS nc,
         |    SUM(CASE WHEN c.doc_id * 1000000000 + c.idx = f.first_pk
         |             THEN 1 ELSE 0 END)::BIGINT AS nk
         |  FROM chunks c JOIN firstc f USING (chunk) GROUP BY 1),
         |$scoredCte,
         |q AS (
         |  SELECT source,
         |    (percentile_disc(0.1) WITHIN GROUP (ORDER BY score_pm))::BIGINT
         |      AS q_p10
         |  FROM scored GROUP BY 1),
         |trans AS (
         |  SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
         |  FROM (SELECT doc_id, toks, UNNEST(range(1, len(toks))) AS i
         |        FROM tok WHERE len(toks) >= 2)),
         |bgc AS (
         |  SELECT w1, w2, COUNT(*)::BIGINT AS c_bg FROM trans GROUP BY 1, 2),
         |unc AS (SELECT w1, SUM(c_bg)::BIGINT AS c_w1 FROM bgc GROUP BY 1),
         |lmdoc AS (
         |  SELECT t.doc_id,
         |    (SUM((1000 * c_w1) // c_bg) // COUNT(*))::BIGINT AS score
         |  FROM trans t JOIN bgc USING (w1, w2) JOIN unc USING (w1)
         |  GROUP BY 1),
         |lm AS (
         |  SELECT source, COUNT(*)::BIGINT AS n_lm, SUM(score)::BIGINT AS slm
         |  FROM lmdoc JOIN tok USING (doc_id) GROUP BY 1)
         |SELECT b.source, b.n_docs, b.sum_toks,
         |  ((1000 * b.n_exact_dup) // b.n_docs)::BIGINT AS exact_dup_pm,
         |  (CASE WHEN s.nc > 0 THEN (1000 * (s.nc - s.nk)) // s.nc
         |        ELSE 0 END)::BIGINT AS span_cut_pm,
         |  COALESCE(q.q_p10, 0)::BIGINT AS q_p10,
         |  (CASE WHEN l.n_lm > 0 THEN l.slm // l.n_lm ELSE 0 END)::BIGINT
         |    AS lm_score_pm
         |FROM basics b
         |LEFT JOIN span s USING (source)
         |LEFT JOIN q USING (source)
         |LEFT JOIN lm l USING (source)""".stripMargin,
    // running-token packing, d22's shard assignment. The receipt digest
    // is md5 of the sorted doc_id list — order-pinned on both engines.
    "p01_corpus_pipeline" ->
      s"""WITH surv AS (
         |  SELECT doc_id, source, text FROM (
         |    SELECT doc_id, source, text,
         |      MIN(doc_id) OVER (PARTITION BY md5(text)) AS keeper
         |    FROM documents)
         |  WHERE doc_id = keeper),
         |tokp AS (SELECT doc_id, source, $toksSql AS toks FROM surv),
         |chnk AS (
         |  SELECT doc_id, source, idx,
         |    array_to_string(toks[idx * $ChunkW + 1 : idx * $ChunkW + $ChunkW],
         |      ' ') AS chunk
         |  FROM (SELECT doc_id, source, toks,
         |          UNNEST(range((len(toks) - 1) // $ChunkW + 1)) AS idx
         |        FROM tokp WHERE len(toks) > 0)),
         |frst AS (
         |  SELECT chunk, MIN(doc_id * 1000000000 + idx) AS first_pk
         |  FROM chnk GROUP BY 1),
         |clean AS (
         |  SELECT c.doc_id, c.source,
         |    COALESCE(string_agg(
         |      CASE WHEN c.doc_id * 1000000000 + c.idx = f.first_pk
         |           THEN c.chunk END, ' ' ORDER BY c.idx), '') AS text
         |  FROM chnk c JOIN frst f USING (chunk)
         |  GROUP BY 1, 2),
         |pairs AS (SELECT a_id, b_id FROM (${leakagePairsSqlFrom("clean")})),
         |sym AS (
         |  SELECT a_id AS x, b_id AS y FROM pairs
         |  UNION ALL
         |  SELECT b_id AS x, a_id AS y FROM pairs),
         |leaky AS (
         |  SELECT DISTINCT x AS doc_id FROM sym
         |  WHERE ${splitCaseSqlFor("x")} = 'train'
         |    AND ${splitCaseSqlFor("y")} <> 'train'),
         |train AS (
         |  SELECT c.doc_id, c.source, c.text FROM clean c
         |  ANTI JOIN leaky l ON l.doc_id = c.doc_id
         |  WHERE ${splitCaseSqlFor("c.doc_id")} = 'train'),
         |scored AS (
         |  SELECT doc_id, source,
         |    (1000 * ($stopSql + $alphaSql)) // len($toksSql) AS score_pm,
         |    len($toksSql)::BIGINT AS n_toks
         |  FROM train WHERE len($toksSql) > 0),
         |thr AS (
         |  SELECT source, quantile_disc(score_pm, 0.1)::BIGINT AS p10
         |  FROM scored GROUP BY source),
         |ttok AS (SELECT doc_id, $toksSql AS toks FROM train),
         |trans AS (
         |  SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
         |  FROM (SELECT doc_id, toks, UNNEST(range(1, len(toks))) AS i
         |        FROM ttok WHERE len(toks) >= 2)),
         |bgc AS (
         |  SELECT w1, w2, COUNT(*)::BIGINT AS c_bg FROM trans GROUP BY 1, 2),
         |unc AS (SELECT w1, SUM(c_bg)::BIGINT AS c_w1 FROM bgc GROUP BY 1),
         |lm AS (
         |  SELECT t.doc_id,
         |    (SUM((1000 * c_w1) // c_bg) // COUNT(*))::BIGINT AS lm_pm
         |  FROM trans t JOIN bgc USING (w1, w2) JOIN unc USING (w1)
         |  GROUP BY 1),
         |lmthr AS (
         |  SELECT s.source, quantile_disc(l.lm_pm, 0.9)::BIGINT AS p90
         |  FROM scored s JOIN lm l ON l.doc_id = s.doc_id
         |  GROUP BY 1),
         |kept AS (
         |  SELECT s.doc_id, s.source, s.n_toks
         |  FROM scored s
         |  JOIN thr t USING (source)
         |  LEFT JOIN lm ON lm.doc_id = s.doc_id
         |  LEFT JOIN lmthr lt ON lt.source = s.source
         |  WHERE s.score_pm >= t.p10
         |    AND (lm.lm_pm IS NULL OR lm.lm_pm <= lt.p90)),
         |packed AS (
         |  SELECT doc_id, source, n_toks,
         |    COALESCE(SUM(n_toks) OVER (PARTITION BY source ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      // $PackBudget AS bin
         |  FROM kept)
         |SELECT (${sqlHash60("doc_id::VARCHAR", graft.operators.ShardWriter.Seed)} % $NShards) AS shard,
         |  COUNT(*) AS n_docs,
         |  SUM(n_toks)::BIGINT AS sum_tokens,
         |  SUM(bin)::BIGINT AS sum_bin,
         |  md5(string_agg(doc_id::VARCHAR, ',' ORDER BY doc_id)) AS ids_md5
         |FROM packed GROUP BY 1""".stripMargin,
    // SQL twin of t24 — the identical epoch-1 order replayed from the
    // portable hash: ROW_NUMBER over (key, doc_id) is the single-window
    // formulation the bucketed prefix-sum is bit-identical to
    "t24_epoch_order" ->
      s"""WITH k AS (
         |  SELECT source, doc_id,
         |    ${graft.operators.EpochFeed.sqlShuffleKey("doc_id::VARCHAR", 1)}
         |      AS key
         |  FROM documents),
         |p AS (
         |  SELECT source,
         |    ROW_NUMBER() OVER (ORDER BY key, doc_id) - 1 AS pos
         |  FROM k),
         |t AS (SELECT COUNT(*) AS n_total FROM documents)
         |SELECT source, (10 * pos) // n_total AS decile,
         |  COUNT(*) AS n_docs,
         |  SUM(pos)::BIGINT AS sum_pos,
         |  MIN(pos)::BIGINT AS min_pos
         |FROM p, t GROUP BY 1, 2""".stripMargin,
    "t25_reader_slices" ->
      s"""WITH t0 AS (
         |  SELECT doc_id, len($toksSql)::BIGINT AS n_toks,
         |    ${graft.operators.EpochFeed.sqlShuffleKey("doc_id::VARCHAR", 1)}
         |      AS key
         |  FROM documents),
         |p AS (
         |  SELECT n_toks,
         |    ROW_NUMBER() OVER (ORDER BY key, doc_id) - 1 AS pos,
         |    COALESCE(SUM(n_toks) OVER (ORDER BY key, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
         |      AS cum
         |  FROM t0),
         |tot AS (SELECT SUM(n_toks)::BIGINT AS t FROM t0)
         |SELECT LEAST(7, (8 * cum) // GREATEST(t, 1)) AS reader,
         |  COUNT(*) AS n_docs,
         |  SUM(n_toks)::BIGINT AS sum_tokens,
         |  MIN(pos)::BIGINT AS min_pos,
         |  MAX(pos)::BIGINT AS max_pos
         |FROM p, tot GROUP BY 1""".stripMargin,
    // SQL twin of t26 — the same window-formulated packing as t12's
    // oracle, then one string_agg per bin in doc_id order
    "t26_packed_sequences" ->
      s"""WITH t AS (
         |  SELECT source, doc_id, text, len($toksSql)::BIGINT AS n_toks
         |  FROM documents),
         |c AS (
         |  SELECT source, doc_id, text, n_toks,
         |    COALESCE(SUM(n_toks) OVER (PARTITION BY source ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS cum_before
         |  FROM t),
         |b AS (SELECT source, doc_id, text, n_toks,
         |        (cum_before // 256)::BIGINT AS bin FROM c)
         |SELECT source, bin, COUNT(*) AS n_docs,
         |  SUM(n_toks)::BIGINT AS sum_tokens,
         |  md5(string_agg(text, ' <|doc|> ' ORDER BY doc_id)) AS seq_md5
         |FROM b GROUP BY 1, 2""".stripMargin,
    "t27_mixture_epochs" ->
      s"""WITH r AS (
         |  SELECT source, doc_id,
         |    200 + (${sqlHash60("source", 555)} % 8) * 100 AS rate_pm
         |  FROM documents),
         |k AS (
         |  SELECT source, rate_pm,
         |    ${graft.operators.EpochFeed
                .sqlMixtureKeep("doc_id::VARCHAR", "rate_pm", 1)} AS k1,
         |    ${graft.operators.EpochFeed
                .sqlMixtureKeep("doc_id::VARCHAR", "rate_pm", 2)} AS k2
         |  FROM r)
         |SELECT source, rate_pm::BIGINT AS rate_pm, COUNT(*) AS n_docs,
         |  SUM(CASE WHEN k1 THEN 1 ELSE 0 END)::BIGINT AS n_epoch1,
         |  SUM(CASE WHEN k2 THEN 1 ELSE 0 END)::BIGINT AS n_epoch2,
         |  SUM(CASE WHEN k1 AND k2 THEN 1 ELSE 0 END)::BIGINT AS n_both
         |FROM k GROUP BY 1, 2""".stripMargin,
    // SQL twin of p05 — the five-stage trainer hand-off replayed as
    // one CTE chain: train split, epoch-1 mixture coin, per-source
    // budget window, global (key, doc_id) rank, token slices
    "p05_training_epoch" ->
      s"""WITH t AS (
         |  SELECT source, doc_id, len($toksSql)::BIGINT AS n_toks,
         |    ${graft.operators.EpochFeed.sqlShuffleKey("doc_id::VARCHAR", 1)}
         |      AS key
         |  FROM documents),
         |tr AS (SELECT * FROM t WHERE ${splitCaseSqlFor("doc_id")} = 'train'),
         |rt AS (
         |  SELECT source, doc_id, n_toks, key FROM (
         |    SELECT *,
         |      200 + (${sqlHash60("source", 555)} % 8) * 100 AS rate_pm
         |    FROM tr)
         |  WHERE ${graft.operators.EpochFeed
                .sqlMixtureKeep("doc_id::VARCHAR", "rate_pm", 1)}),
         |cum AS (
         |  SELECT source, doc_id, n_toks, key,
         |    COALESCE(SUM(n_toks) OVER (PARTITION BY source
         |      ORDER BY key, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS scum,
         |    (1 + ${sqlHash60("source", 321)} % 5) * 100 AS budget
         |  FROM rt),
         |cap AS (SELECT doc_id, n_toks, key FROM cum WHERE scum < budget),
         |ord AS (
         |  SELECT doc_id, n_toks,
         |    ROW_NUMBER() OVER (ORDER BY key, doc_id) - 1 AS pos,
         |    COALESCE(SUM(n_toks) OVER (ORDER BY key, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
         |      AS c2
         |  FROM cap),
         |tot AS (SELECT SUM(n_toks)::BIGINT AS tt FROM cap)
         |SELECT LEAST(7, (8 * c2) // GREATEST(tt, 1)) AS reader,
         |  COUNT(*) AS n_docs,
         |  SUM(n_toks)::BIGINT AS sum_tokens,
         |  MIN(pos)::BIGINT AS min_pos,
         |  MAX(pos)::BIGINT AS max_pos,
         |  SUM((pos + 1) * (doc_id % 1000003))::BIGINT AS order_check
         |FROM ord, tot GROUP BY 1""".stripMargin,
    // SQL twin of t29 — the same planted multi-line docs, the same
    // line rules over DuckDB's list ops
    "t29_line_cleaning" ->
      s"""WITH base AS (
         |  SELECT doc_id, source, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + ${2L * graft.Tables.ProbeShift} AS doc_id,
         |    source,
         |    text || chr(10) || 'subscribe now' || chr(10) ||
         |    'click here to accept our cookie policy' || chr(10) || text
         |      AS text
         |  FROM documents WHERE doc_id < 5),
         |l AS (
         |  SELECT source, text,
         |    string_split(text, chr(10)) AS lines,
         |    list_filter(string_split(text, chr(10)),
         |      l -> len(string_split(l, ' ')) >= 3
         |        AND NOT regexp_matches(l,
         |          '(click here|cookie policy|subscribe)')) AS kept
         |  FROM base)
         |SELECT source, COUNT(*) AS n_docs,
         |  SUM(len(lines))::BIGINT AS n_lines,
         |  SUM(len(kept))::BIGINT AS n_kept_lines,
         |  SUM(len(text))::BIGINT AS chars_before,
         |  SUM(COALESCE(list_sum(list_transform(kept, l -> len(l))), 0))
         |    ::BIGINT AS kept_chars
         |FROM l GROUP BY 1""".stripMargin,
    // SQL twin of t28 — the per-source running total replayed as the
    // (key, doc_id)-ordered window inside each source partition
    "t28_source_budget_caps" ->
      s"""WITH t AS (
         |  SELECT source, doc_id, len($toksSql)::BIGINT AS n_toks,
         |    ${graft.operators.EpochFeed.sqlShuffleKey("doc_id::VARCHAR", 1)}
         |      AS key
         |  FROM documents),
         |c AS (
         |  SELECT source, n_toks,
         |    COALESCE(SUM(n_toks) OVER (PARTITION BY source
         |      ORDER BY key, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
         |      AS cum,
         |    (1 + ${sqlHash60("source", 321)} % 5) * 100 AS budget
         |  FROM t)
         |SELECT source, budget::BIGINT AS budget, COUNT(*) AS n_docs,
         |  SUM(n_toks)::BIGINT AS sum_tokens,
         |  SUM(CASE WHEN cum < budget THEN 1 ELSE 0 END)::BIGINT AS n_kept,
         |  SUM(CASE WHEN cum < budget THEN n_toks ELSE 0 END)::BIGINT
         |    AS kept_tokens
         |FROM c GROUP BY 1, 2""".stripMargin,
    // SQL twin of p04 — the incremental night: d24's verdict CTEs, the
    // intra-unique dedup (min-id per content hash, then drop docs near
    // any SMALLER admitted doc — the advance-fold rule), then the p01
    // oracle's scored/threshold/packing/receipt fragments over the
    // admitted set only.
    "p04_incremental_shards" ->
      s"""WITH thm AS (
         |  SELECT doc_id, source, text,
         |    list_transform($toksSql,
         |      t -> ${sqlHash60("t", 0)} % ${graft.functions.TextFns.ShingleMod}) AS th
         |  FROM documents),
         |hsx AS (
         |  SELECT doc_id, source, text,
         |    list_distinct(list_transform(range(1, greatest(len(th) - $K + 2, 1)),
         |      i -> (${(0 until K).map(j =>
                  s"th[i+$j] * ${graft.functions.TextFns.ShingleCoef(j)}")
                  .mkString(" + ")}) % ${graft.functions.TextFns.ShingleMod})) AS ss
         |  FROM thm),
         |sigd AS (
         |  SELECT doc_id, source,
         |    (${sqlHash60("doc_id::VARCHAR", 424)} % 5 = 0) AS is_delta,
         |    md5(text) AS content_hash,
         |    CASE WHEN len(ss) > 0 THEN ${minhashSql("ss")} END AS sig
         |  FROM hsx),
         |base AS (SELECT * FROM sigd WHERE NOT is_delta),
         |delta AS (SELECT * FROM sigd WHERE is_delta),
         |exact AS (
         |  SELECT d.doc_id FROM delta d
         |  JOIN base b USING (content_hash) GROUP BY 1),
         |db AS (SELECT doc_id, UNNEST(${bandKeySql("sig")}) AS band_key
         |       FROM delta WHERE sig IS NOT NULL),
         |bb AS (SELECT doc_id AS base_id, UNNEST(${bandKeySql("sig")}) AS band_key
         |       FROM base WHERE sig IS NOT NULL),
         |cand AS (
         |  SELECT DISTINCT db.doc_id, bb.base_id
         |  FROM db JOIN bb USING (band_key)),
         |near AS (
         |  SELECT DISTINCT c.doc_id
         |  FROM cand c
         |  JOIN delta d ON d.doc_id = c.doc_id
         |  JOIN base b ON b.doc_id = c.base_id
         |  WHERE (1000 * len(list_filter(range(1, ${MINHASH_K + 1}),
         |          i -> d.sig[i] = b.sig[i]))) // $MINHASH_K >= 500),
         |au AS (
         |  SELECT d.* FROM delta d
         |  ANTI JOIN exact e ON e.doc_id = d.doc_id
         |  ANTI JOIN near n ON n.doc_id = d.doc_id),
         |akeep AS (
         |  SELECT content_hash, MIN(doc_id) AS keep_id FROM au GROUP BY 1),
         |adb AS (SELECT doc_id, UNNEST(${bandKeySql("sig")}) AS band_key
         |        FROM au WHERE sig IS NOT NULL),
         |adrop AS (
         |  SELECT DISTINCT x.doc_id
         |  FROM (SELECT DISTINCT a.doc_id, b.doc_id AS base_id
         |        FROM adb a JOIN adb b USING (band_key)
         |        WHERE b.doc_id < a.doc_id) p
         |  JOIN au x ON x.doc_id = p.doc_id
         |  JOIN au y ON y.doc_id = p.base_id
         |  WHERE (1000 * len(list_filter(range(1, ${MINHASH_K + 1}),
         |          i -> x.sig[i] = y.sig[i]))) // $MINHASH_K >= 500),
         |admitted AS (
         |  SELECT a.doc_id FROM au a
         |  JOIN akeep k
         |    ON k.content_hash = a.content_hash AND k.keep_id = a.doc_id
         |  ANTI JOIN adrop dr ON dr.doc_id = a.doc_id),
         |adocs AS (
         |  SELECT d.doc_id, d.source, d.text
         |  FROM documents d JOIN admitted a ON a.doc_id = d.doc_id),
         |scored AS (
         |  SELECT doc_id, source,
         |    (1000 * ($stopSql + $alphaSql)) // len($toksSql) AS score_pm,
         |    len($toksSql)::BIGINT AS n_toks
         |  FROM adocs WHERE len($toksSql) > 0),
         |thr AS (
         |  SELECT source, quantile_disc(score_pm, 0.1)::BIGINT AS p10
         |  FROM scored GROUP BY 1),
         |kept AS (
         |  SELECT s.doc_id, s.source, s.n_toks
         |  FROM scored s JOIN thr t USING (source)
         |  WHERE s.score_pm >= t.p10),
         |packed AS (
         |  SELECT doc_id, source, n_toks,
         |    COALESCE(SUM(n_toks) OVER (PARTITION BY source ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      // $PackBudget AS bin
         |  FROM kept)
         |SELECT (${sqlHash60("doc_id::VARCHAR", graft.operators.ShardWriter.Seed)} % $NShards) AS shard,
         |  COUNT(*) AS n_docs,
         |  SUM(n_toks)::BIGINT AS sum_tokens,
         |  SUM(bin)::BIGINT AS sum_bin,
         |  md5(string_agg(doc_id::VARCHAR, ',' ORDER BY doc_id)) AS ids_md5
         |FROM packed GROUP BY 1""".stripMargin,
  )
}
