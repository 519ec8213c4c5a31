package graft.pipeline

import graft.core.{ImageEvent, Overlap, RunCaches, Synthetic}
import graft.ops._
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DoubleType, StringType, StructField, StructType}

/** The pipeline driver — the Spark re-expression of the reference's
  * `main()` fold (main.py:143-275):
  *
  * {{{
  * source → repartition → [project] → [illumination-correct]
  *   → [segment] → [sample/limit] → N mask branches, per branch:
  *     [filters] → method → border-scrub → bbox → apply
  *     → [population filter] → [normalize] → features
  *   → join branches on the event UID → coalesce → export
  * }}}
  *
  * Branch concat: the reference concatenates branch feature tables
  * column-wise relying on identical partitioning (main.py:260-268, J3).
  * Here every branch's feature table carries the stable event UID
  * (path, idx, id) and branches are equi-joined on it — order-safe by
  * construction; with one branch no join happens at all.
  */
final case class MaskBranchConfig(
    name: String,
    method: Masking.Method,
    exportPrefix: Option[String] = None,
    /** per-branch feature selection (the reference's
      * feature_extraction: {branch: [types...]} form); None = the
      * pipeline-level featureTypes */
    featureTypes: Option[Seq[String]] = None)

final case class PipelineConfig(
    channelNames: Seq[String],
    mainChannelIndex: Int = 0,
    combinedIndices: Seq[Int] = null,
    /** the reference ALWAYS adds an unmasked "raw" branch (types=
      * ["raw"], prefix "raw") whenever masks are configured
      * (main.py:206: images_dict["raw"] = images) — raw intensity
      * stats per channel on the un-masked pixels */
    rawBranch: Boolean = true,
    projectOp: Option[String] = None,
    illuminationCorrection: Boolean = false,
    illuminationMedianSize: Int = 50,
    illuminationPrecomputed: Option[String] = None,
    segment: Option[Segmentation.SegmentSpec] = None,
    segmentParentChannel: Int = 0,
    sampleK: Option[Int] = None,
    sampleWithReplacement: Boolean = false,
    maskNpyDir: Option[String] = None,
    maskFilters: Seq[Masking.MaskFilter] = Seq.empty,
    branches: Seq[MaskBranchConfig],
    populationFilter: Boolean = false,
    normalize: Boolean = false,
    featureTypes: Seq[String] = Seq("regions", "bbox", "shape", "intensity", "texture"),
    nPartitions: Int = 0)

object Pipeline {

  /** reference prefix rule (main.py:244-246): every mask branch is
    * prefixed by its name; only the mask-LESS config ("no") goes
    * unprefixed. `exportPrefix` still overrides. */
  private def branchPrefix(b: MaskBranchConfig): String =
    b.exportPrefix.getOrElse(if (b.name == "no") null else b.name)

  /** raw branch accompanies every masked config (never the "no" one) */
  private def includeRaw(cfg: PipelineConfig): Boolean =
    cfg.rawBranch && !cfg.branches.forall(_.name == "no")

  /** run the full pipeline on a source dataset → wide feature table */
  def run(spark: SparkSession, source: Dataset[ImageEvent],
      cfg: PipelineConfig): DataFrame =
    runPrepared(spark, prepare(spark, source, cfg), cfg)

  /** [[run]] reduced to the registry's digest table `(keys...,
    * row_digest, schema_digest)`. For a per-record config (no
    * population filter / normalization) the fused pass digests each
    * wide row where it is computed ([[graft.rel.Digest.fusedDigester]]),
    * so the planned schema is keys + 2 strings and Catalyst never sees
    * the several-hundred-column digest projection [[graft.rel.Digest
    * .rows]] would plan (measured at ~2.3 s/cell on p01 in r16).
    * Aggregate-bearing configs digest the wide table with
    * [[graft.rel.Digest.rows]] — the same result either way (DigestSpec
    * pins the two digests equal; the committed goldens gate both). */
  def runDigested(spark: SparkSession, source: Dataset[ImageEvent],
      cfg: PipelineConfig, keyCols: Seq[String]): DataFrame = {
    val ds = prepare(spark, source, cfg)
    if (!cfg.populationFilter && !cfg.normalize)
      fusedBranches(ds, cfg, digestKeys = Some(keyCols))
    else graft.rel.Digest.rows(runPrepared(spark, ds, cfg), keyCols)
  }

  /** every pre-branch stage (repartition → project → illumination →
    * segment → sample → mask filters) — exposed so export-time extras
    * (Cli's quantiles CSV) compute from the SAME processed stream the
    * branches consume, not from the raw source. The caches a stage
    * creates (illumination, sampling with replacement) go to `caches`
    * for the caller to release. */
  def prepare(spark: SparkSession, source: Dataset[ImageEvent],
      cfg: PipelineConfig, caches: RunCaches = new RunCaches): Dataset[ImageEvent] = {
    var ds = if (cfg.nPartitions > 0) source.repartition(cfg.nPartitions) else source

    cfg.projectOp.foreach(op => ds = Projection(ds, op))
    cfg.illuminationPrecomputed match {
      case Some(path) => ds = Illumination.correctPrecomputed(spark, ds, path)
      case None if cfg.illuminationCorrection =>
        ds = Illumination.correct(spark, ds, cfg.illuminationMedianSize, caches)
      case None =>
    }
    cfg.segment.foreach { spec =>
      // the cellpose spec carries its OWN parent channel: exploding
      // events from cfg.segmentParentChannel when the two disagree
      // would read a child-assigned mask channel (cropped fragments)
      // instead of the parent cells
      val parentCh = spec match {
        case cp: Segmentation.CellposeShaped => cp.parentChannelIndex
        case _ => cfg.segmentParentChannel
      }
      ds = spec match {
        case cp: Segmentation.CellposeShaped => Segmentation.segmentCellpose(ds, cp)
        case seg: Segmentation.Segmenter =>
          Segmentation.segment(ds, seg, cfg.segmentParentChannel)
      }
      // K4: side-effect export of the labeled FOV masks
      cfg.maskNpyDir.foreach(dir => ds = graft.export.Export.npyMasks(ds, dir))
      ds = Segmentation.toEvents(ds, parentCh)
    }
    cfg.sampleK.foreach { k =>
      ds = if (cfg.sampleWithReplacement) Sampling.sampleWithReplacement(ds, k, caches = caches)
           else Sampling.sampleExact(ds, k)
    }

    if (cfg.maskFilters.nonEmpty)
      ds = Masking.computeFilters(ds, cfg.maskFilters, cfg.mainChannelIndex)
    ds
  }

  /** branch fan-out + feature extraction over an already-prepared
    * stream (see [[prepare]]); the caches of the aggregate-bearing
    * branches (shared parent, population filter, normalization) go to
    * `caches` */
  def runPrepared(spark: SparkSession, ds: Dataset[ImageEvent],
      cfg: PipelineConfig, caches: RunCaches = new RunCaches): DataFrame = {
    // mask fan-out X2. When every branch stage is per-record (no
    // population filter / normalization aggregates), ALL branches fuse
    // into ONE map pass producing the full wide row — no joins, no
    // repeated parent passes, and column-aligned concat is correct by
    // construction (SURVEY.md J3: the preferred replacement for the
    // reference's row-order-dependent axis-1 concat).
    if (!cfg.populationFilter && !cfg.normalize) fusedBranches(ds, cfg)
    else {
      // aggregate-bearing branches: per-branch plans from one cached
      // parent, joined on the stable event UID
      val multiConsumer = cfg.branches.length > 1 || includeRaw(cfg)
      val parent = if (multiConsumer) caches.cache(ds) else ds
      def buildBranch(b: MaskBranchConfig): DataFrame = {
        var branch = Masking.branch(parent, b.method, cfg.mainChannelIndex, cfg.combinedIndices)
        if (cfg.populationFilter) branch = PopulationFilter(spark, branch, caches)
        if (cfg.normalize) branch = Normalization.normalize(spark, branch, caches)
        Features.extract(branch, cfg.channelNames,
          b.featureTypes.getOrElse(cfg.featureTypes), branchPrefix(b))
      }
      // the reference's raw branch rides through the same per-branch
      // loop (filter + normalization) WITHOUT any masking
      def buildRaw(): DataFrame = {
        var raw = parent
        if (cfg.populationFilter) raw = PopulationFilter(spark, raw, caches)
        if (cfg.normalize) raw = Normalization.normalize(spark, raw, caches)
        Features.extract(raw, cfg.channelNames, Seq("raw"), "raw")
      }
      val thunks: Seq[() => DataFrame] =
        cfg.branches.map(b => () => buildBranch(b)) ++
          (if (includeRaw(cfg)) Seq(() => buildRaw()) else Nil)
      // r16 (guide §2.6): every aggregate-bearing chain BLOCKS the
      // driver on its stats jobs (population-filter head, normalization
      // extent collect) — the chains are independent, so build them
      // concurrently instead of serializing 2×(chains) small jobs.
      // The shared parent is materialized FIRST so concurrent first
      // jobs cannot compute its partitions twice (the block manager
      // dedupes storage, not computation). Per-chain results are
      // unchanged: each chain's aggregates see the same cached parent.
      if (thunks.length > 1) parent.count()
      val branchTables = Overlap.all(thunks)
      branchTables.reduceLeft { (a, b) =>
        a.join(b.drop("meta_group"), // group is branch-invariant; keep one copy
          a("meta_path") === b("meta_path") && a("meta_idx") === b("meta_idx") &&
            a("meta_id") === b("meta_id"))
          .drop(b("meta_path")).drop(b("meta_idx")).drop(b("meta_id"))
      }
    }
  }

  /** the fused wide row: its declared schema (meta ++ every branch's
    * feature columns ++ raw) and the per-record cells in that order;
    * each branch may select its own feature types (the reference's
    * per-branch feature_extraction map) */
  private[graft] def fusedRow(cfg: PipelineConfig)
      : (StructType, ImageEvent => Array[Any]) = {
    val channelNames = cfg.channelNames
    val perBranch = cfg.branches.map { b =>
      val types = b.featureTypes.getOrElse(cfg.featureTypes)
      (b, branchPrefix(b), Features.featureNames(channelNames, types),
        Features.layout(channelNames, types))
    }
    val rawNames =
      if (includeRaw(cfg)) Features.featureNames(channelNames, Seq("raw"))
      else Seq.empty
    val featNames = perBranch.flatMap { case (_, p, names, _) =>
      names.map(Features.renamed(_, p, isLoaderMeta = false))
    } ++ rawNames.map(Features.renamed(_, "raw", isLoaderMeta = false))
    val sch = StructType(
      Features.schema(channelNames, cfg.featureTypes, null).fields.take(4) ++
        featNames.map(StructField(_, DoubleType)))
    val mainCh = cfg.mainChannelIndex
    val combined = cfg.combinedIndices
    val rawLayout =
      if (rawNames.nonEmpty) Some(Features.layout(channelNames, Seq("raw")))
      else None
    val cells = (e: ImageEvent) =>
      Features.metaCells(e) ++ perBranch.iterator.flatMap { case (b, _, _, lay) =>
        val be = Masking.branchRecord(b.method, mainCh, combined)(e)
        Features.featureCells(be, channelNames, lay)
      } ++ rawLayout.iterator.flatMap(Features.featureCells(e, channelNames, _))
    (sch, cells)
  }

  /** all branches in one per-record pass → one wide row, or with
    * `digestKeys` straight to the digest table: the same cells, reduced
    * inside the pass by [[graft.rel.Digest.fusedDigester]] */
  private def fusedBranches(ds: Dataset[ImageEvent], cfg: PipelineConfig,
      digestKeys: Option[Seq[String]] = None): DataFrame = {
    val (sch, rowCells) = fusedRow(cfg)
    digestKeys match {
      case None => Features.wideFrame(ds, sch)(rowCells)
      case Some(keys) =>
        val (schemaDigest, digestFn) = graft.rel.Digest.fusedDigester(sch)
        val keyIdx = keys.map(sch.fieldIndex).toArray
        val outSch = StructType(
          (keys ++ Seq("row_digest", "schema_digest")).map(StructField(_, StringType)))
        Features.wideFrame(ds, outSch) { e =>
          val all = rowCells(e)
          // cast-to-string key semantics of Digest.rows (null stays
          // null; int/long/string render identically to Spark's cast)
          keyIdx.map[Any] { i => val v = all(i); if (v == null) null else v.toString } ++
            Array[Any](digestFn(all), schemaDigest)
        }.orderBy(keys.map(col): _*)
    }
  }

  /** the reference's own e2e shape (test/data/scip_zarr.yml): synthetic
    * events through two identical circle branches + li + spot, full
    * feature set — used by the e2e spec and the flagship entry. */
  def referenceShape(spark: SparkSession, nEvents: Int = 10,
      digestKeys: Option[Seq[String]] = None): DataFrame = {
    val cfg = PipelineConfig(
      channelNames = Seq("ch0", "ch1", "ch2"),
      mainChannelIndex = 0,
      branches = Seq(
        MaskBranchConfig("circle-1", Masking.Circle),
        MaskBranchConfig("circle-2", Masking.Circle),
        MaskBranchConfig("li", Masking.Li(Seq(0.75, 0.75, 0.75))),
        MaskBranchConfig("spot", Masking.Spot(5))),
      normalize = false,
      featureTypes = Seq("regions", "bbox", "shape", "intensity", "texture"))
    digestKeys match {
      case Some(k) => runDigested(spark, Synthetic.conftest(spark, nEvents),
        cfg, k)
      case None => run(spark, Synthetic.conftest(spark, nEvents), cfg)
    }
  }
}
