package graft.queries

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions.{col, lit, pmod}

import graft.Pinned
import graft.operators.{Corpus, IndexGenerations, ShardWriter}

/** One axis of the delta-dedup index lifecycle — text (d24 signatures),
  * media (m12 fingerprints) or vec (s24 quantized vectors) — and the
  * ONE implementation of every lifecycle step, written against what an
  * axis declares. The store is an [[IndexGenerations]] root; the steps
  * are
  *
  *  - [[build]]: distill a base corpus into generation 0 (or rebuild);
  *  - [[advance]]: verdicts for a delta against the LIVE generation,
  *    the admitted uniques intra-deduped and folded into generation
  *    N+1 (rewrite or LSM per `spark.graft.index.advanceMode`);
  *  - [[night]]: the exactly-once production night — the recorded
  *    advance plus, on an axis with a corpus, the night's shard
  *    partition;
  *  - [[judge]]: the dry run, verdicts against the live index with
  *    nothing folded;
  *  - [[serve]]: the d24/m12/s24 query face over a base/delta split.
  *
  * An axis holds only what differs: its id column, how its input rows
  * derive from documents- or embeddings-shaped rows ([[fromDocs]]), its
  * index row ([[sig]]), its verdict core ([[verdicts]]) and intra-night
  * rule ([[intraUnique]]), the query face's split seed, its corpus
  * columns and its night corpus half ([[writeCorpus]]). `graft.Nightly`
  * resolves an axis once and calls these steps;
  * [[graft.streaming.StoreBridge]]'s stream axes take their id column,
  * verdict core and intra-batch rule from here too, so stream state and
  * the nightly loop judge by one definition.
  *
  * The query faces read `spark.graft.<q>.indexDir` and
  * `spark.graft.<q>.buildIndex` for q = d24, m12, s24:
  * `spark.graft.d24.indexDir`, `spark.graft.d24.buildIndex`,
  * `spark.graft.m12.indexDir`, `spark.graft.m12.buildIndex`,
  * `spark.graft.s24.indexDir`, `spark.graft.s24.buildIndex`. */
sealed abstract class DeltaAxis(
    /** The axis name `graft.Nightly` takes. */
    val name: String,
    /** The query face's id (its conf prefix and default index dir). */
    val query: String,
    /** The row id — the unit of uniqueness a verdict and a fold judge. */
    val idCol: String,
    /** The query face's base/delta identity-hash split seed. */
    val splitSeed: Int,
    /** The corpus root's (id, content) columns; None: no shard corpus. */
    val corpusCols: Option[(String, String)]) extends Serializable {

  /** The axis's input rows derived from documents-shaped rows (text,
    * media) or embeddings-shaped rows (vec). */
  def fromDocs(docs: DataFrame): DataFrame
  /** The index row of every input row. */
  def sig(input: DataFrame): DataFrame
  /** The read-only verdict core: (index, sig'd delta) → one row per
    * delta id with `verdict` exact | near | unique and its winner. */
  def verdicts(index: DataFrame, delta: DataFrame): DataFrame
  /** A fold's uniques deduped against each other (min-id keeps). */
  def intraUnique(uniques: DataFrame): DataFrame

  /** The night's corpus half: write the admitted rows as the
    * `nightDir` partition of the corpus root, returning the shard
    * receipt where the axis reports one. Runs only on an axis with
    * [[corpusCols]], before the recorded advance. */
  protected def writeCorpus(s: SparkSession, input: DataFrame,
      admitted: DataFrame, nightDir: String): Option[DataFrame] = None
  /** Whether a night must be given a corpus root. */
  protected def shardsRequired: Boolean = false

  /** Build (or rebuild from scratch) the index from a base corpus —
    * generation 0 of the [[IndexGenerations]] store. */
  def build(s: SparkSession, indexDir: String, input: Dataset[_]): Unit = {
    graft.functions.HashSketch.register(s)
    IndexGenerations.reset(s, indexDir, sig(input.toDF()))
  }

  /** The nightly write face: verdicts for `input` against the LIVE
    * index generation, then fold the admitted `unique` rows' index rows
    * into generation N+1 (write-new + atomic marker swap — see
    * [[IndexGenerations.advance]]). Night 2's uniques are in night 3's
    * index, which the read-only query face cannot deliver alone.
    * Crash/replay: a crash BEFORE the marker leaves the previous
    * generation live (rerun = clean first attempt); a crash AFTER it is
    * content-idempotent — the rerun's rows match THEMSELVES in the
    * advanced index, nothing re-folds (DeltaAdvanceSpec pins both). The
    * fold is intra-night-deduped first ([[intraUnique]]). Returns the
    * verdicts frame (the query face's schema); caller releases pins via
    * [[graft.Pinned.releaseAll]] after consuming it. */
  def advance(s: SparkSession, indexDir: String, input: Dataset[_])
      : DataFrame =
    advanceRecorded(s, indexDir, input.toDF(), None)

  /** [[advance]] with a commit record stamped inside the generation
    * that carries the fold ([[IndexGenerations.advanceByConfRecorded]])
    * and `beforeAdvance` run on the pinned admitted rows just before the
    * fold commits — the night's corpus half. */
  private[graft] def advanceRecorded(s: SparkSession, indexDir: String,
      input: DataFrame, record: Option[(String, String)],
      beforeAdvance: DataFrame => Unit = _ => ()): DataFrame = {
    graft.functions.HashSketch.register(s)
    val index = IndexGenerations.readCurrent(s, indexDir)
    val delta = Pinned.pin(sig(input))
    val v = Pinned.pin(verdicts(index, delta))
    // pinned: the corpus half and the fold both consume it
    val admitted = Pinned.pin(intraUnique(delta.join(
      v.filter(col("verdict") === "unique").select(idCol), Seq(idCol))))
    beforeAdvance(admitted)
    IndexGenerations.advanceByConfRecorded(s, indexDir, admitted, record)
    v
  }

  /** The COMPLETE production night over one delta scan, exactly-once
    * per `nightId` on the night-id ledger ([[DeltaAxis.NightRecord]],
    * one namespace across all axes). With a corpus root (`shards`; the
    * text axis requires one, vec has no corpus and refuses one with an
    * IllegalArgumentException) the night's admitted
    * rows also land as the `<shards>/night=<nightId>` partition — each
    * night its OWN partition, so a scheduler passing one constant root
    * every night ACCUMULATES increments; the partition and the index
    * fold come from ONE admitted frame, so they cannot disagree on
    * admission. Returns Some(run night) or None for an already-
    * committed one; caller releases pins via
    * [[graft.Pinned.releaseAll]]. */
  def night(s: SparkSession, indexDir: String, input: Dataset[_],
      nightId: String, shards: Option[String] = None)
      : Option[DeltaAxis.Night] =
    nightRecorded(s, indexDir, input.toDF(), nightId, shards,
      DeltaAxis.NightRecord, nightId,
      alreadyDone = IndexGenerations.records(s, indexDir,
        DeltaAxis.NightRecord).contains(nightId))

  /** [[night]] with the commit record under the caller's control — the
    * streaming micro-night face
    * ([[graft.streaming.StoreBridge.nightBatchOf]])
    * records `streamId:batchId` lines into an `_hwm` ledger instead of
    * one membership line per night, so `alreadyDone` is computed by the
    * caller over its own ledger.
    *
    * Write order: the corpus partition FIRST, then the recorded advance
    * (the commit point: the record lands inside the new generation
    * before its marker), then the partition's `_NIGHT_COMMITTED` marker
    * for shard-only consumers. A crash anywhere before the advance
    * leaves the night uncommitted (the rerun redoes both halves from
    * the same still-live generation); a rerun of a COMMITTED night
    * returns None without touching the corpus — re-running blind would
    * re-judge every row exact-against-itself and overwrite the
    * partition with nothing — but repairs a missing marker on a
    * partition that exists (a crash between commit and stamp;
    * `onlyIfMissing` keeps a healthy rerun byte-frozen, and the
    * dir-exists guard keeps a replayed EMPTY stream batch from minting
    * a marker-only night). Guards before a run: a committed marker on a
    * partition this ledger never recorded belongs to a compaction or
    * delete replacement (running would overwrite-destroy it), and an
    * ABSORBED id stays poisoned after its dir is pruned
    * ([[Corpus.refuseAbsorbedId]]). */
  private[graft] def nightRecorded(s: SparkSession, indexDir: String,
      input: DataFrame, nightId: String, shards: Option[String],
      recordName: String, recordValue: String, alreadyDone: Boolean)
      : Option[DeltaAxis.Night] = {
    require(nightId.matches("[A-Za-z0-9._-]+"),
      s"nightId '$nightId' must be directory-safe ([A-Za-z0-9._-]+) — " +
        "it names the night's corpus partition, and night ids are one " +
        "namespace across all axes")
    require(shards.isDefined || !shardsRequired,
      s"a $name night requires --shards <dir>")
    // a root the axis cannot write to is refused, not dropped: the
    // operator would otherwise get a night with no partition, silently
    require(shards.isEmpty || corpusCols.isDefined,
      s"the $name axis has no shard corpus: a $name night takes no " +
        "--shards <dir>")
    val nightDir = shards.map(out => s"$out/night=$nightId")
    def exists(p: Path): Boolean =
      p.getFileSystem(s.sparkContext.hadoopConfiguration).exists(p)
    if (alreadyDone) {
      nightDir.filter(d => exists(new Path(d))).foreach(
        Corpus.stampCommitted(s, _, Seq(nightId), onlyIfMissing = true))
      return None
    }
    for (dir <- nightDir; out <- shards) {
      if (exists(new Path(dir, Corpus.Marker)))
        throw new IllegalStateException(
          s"night id '$nightId' collides with an existing committed " +
            s"corpus partition at $dir that this index never recorded " +
            "(a compaction or delete replacement?) — pick a different id")
      Corpus.refuseAbsorbedId(s, out, nightId)
    }
    var receipt: Option[DataFrame] = None
    val v = advanceRecorded(s, indexDir, input,
      Some(recordName -> recordValue), beforeAdvance = admitted =>
        nightDir.foreach(d => receipt = writeCorpus(s, input, admitted, d)))
    nightDir.foreach(
      Corpus.stampCommitted(s, _, Seq(nightId), onlyIfMissing = false))
    Some(DeltaAxis.Night(v, receipt))
  }

  /** The dry run: `input` judged against the LIVE index — nothing
    * folded, nothing recorded. Caller releases pins. */
  def judge(s: SparkSession, indexDir: String, input: Dataset[_])
      : DataFrame = {
    graft.functions.HashSketch.register(s)
    verdicts(IndexGenerations.readCurrent(s, indexDir),
      Pinned.pin(sig(input.toDF())))
  }

  /** The query face: split `docs` by identity hash into base (4/5) and
    * delta (1/5), build the base index once (skipped under
    * `spark.graft.<q>.buildIndex=false` — the nightly contract: today's
    * run serves from yesterday's artifact, and the plan then contains
    * exactly ONE input scan, the delta's; IndexReuseSpec pins both
    * facts), then judge the delta against `readByConf`, which honors the
    * reproducible-audit pin `spark.graft.index.readGen` (pair it with
    * buildIndex=false, since a rebuild would prune unpinned history).
    * The split filters the input rows, before [[sig]]. */
  private[graft] def serve(s: SparkSession, docs: DataFrame): DataFrame = {
    graft.functions.HashSketch.register(s)
    val indexDir = s.conf.getOption(s"spark.graft.$query.indexDir")
      .getOrElse(sys.props("java.io.tmpdir") + s"/graft_${query}_index")
    val input = fromDocs(docs)
    val isDelta = pmod(graft.functions.Portable.hash60(
      col(idCol).cast("string"), splitSeed), lit(5L)) === 0L
    if (graft.Conf.flag(s, s"spark.graft.$query.buildIndex", true))
      build(s, indexDir, input.filter(!isDelta))
    val index = IndexGenerations.readByConf(s, indexDir)
    verdicts(index, Pinned.pin(sig(input.filter(isDelta))))
  }
}

object DeltaAxis {

  /** A run night: its verdicts, and the shard receipt on an axis whose
    * corpus half reports one. */
  final case class Night(verdicts: DataFrame, receipt: Option[DataFrame])

  /** Record name under which [[DeltaAxis.night]] stamps its night id
    * into the generation it advances. */
  private[graft] val NightRecord = "night"

  /** Text: d24's (doc_id, source, content md5, MinHash signature) rows,
    * exact + banded-near verdicts; a night gates, packs and writes the
    * admitted docs as shards ([[TextDedupOps.nightShards]]). */
  object Text extends DeltaAxis("text", "d24", "doc_id", 424,
      Some("doc_id" -> "text")) {
    def fromDocs(docs: DataFrame): DataFrame =
      docs.select("doc_id", "source", "text")
    def sig(input: DataFrame): DataFrame = TextDedupOps.d24Sig(input)
    def verdicts(index: DataFrame, delta: DataFrame): DataFrame =
      TextDedupOps.deltaVerdicts(index, delta)
    def intraUnique(uniques: DataFrame): DataFrame =
      TextDedupOps.intraUniqueSigs(uniques)
    override protected def shardsRequired = true
    override protected def writeCorpus(s: SparkSession, input: DataFrame,
        admitted: DataFrame, nightDir: String): Option[DataFrame] =
      Some(TextDedupOps.nightShards(s, input, admitted, nightDir))
  }

  /** Media: m12's (media_id, kind, checksum, phash) fingerprints, exact +
    * perceptual verdicts; a night given a corpus root writes its admitted
    * payloads, media_id-sharded. */
  object Media extends DeltaAxis("media", "m12", "media_id", 424,
      Some("media_id" -> "payload")) {
    def fromDocs(docs: DataFrame): DataFrame =
      graft.multimodal.Media.mediaFromDocuments(docs).toDF()
    def sig(input: DataFrame): DataFrame = MultimodalOps.m12Fingerprints(
      input.as(Encoders.product[graft.multimodal.Media.MediaRecord]))
    def verdicts(index: DataFrame, delta: DataFrame): DataFrame =
      MultimodalOps.mediaDeltaVerdicts(index, delta)
    def intraUnique(uniques: DataFrame): DataFrame =
      MultimodalOps.intraUniqueFps(uniques)
    override protected def writeCorpus(s: SparkSession, input: DataFrame,
        admitted: DataFrame, nightDir: String): Option[DataFrame] = {
      ShardWriter.writeDocs(
        input.join(admitted.select("media_id"), Seq("media_id")),
        16, nightDir, idCol = "media_id")
      None
    }
  }

  /** Vec: s24's (vec_id, qv, n2) quantized vectors, banded-cosine
    * verdicts; no corpus. */
  object Vec extends DeltaAxis("vec", "s24", "vec_id", 777, None) {
    def fromDocs(docs: DataFrame): DataFrame = docs
    def sig(input: DataFrame): DataFrame = SimilarityOps.s24Sig(input)
    def verdicts(index: DataFrame, delta: DataFrame): DataFrame =
      SimilarityOps.vecDeltaVerdicts(index, delta)
    def intraUnique(uniques: DataFrame): DataFrame =
      SimilarityOps.intraUniqueQvs(uniques)
  }

  /** The axis `graft.Nightly` names `name`. */
  def byName(name: String): Option[DeltaAxis] =
    Seq(Text, Media, Vec).find(_.name == name)
}
