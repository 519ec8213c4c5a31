package graft.pipeline

import graft.core.{ImageEvent, RunCaches, Synthetic}
import graft.ops._
import graft.ops.Normalization.Extents
import graft.plans.WideCells
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}

/** The pipeline driver — the Spark re-expression of the reference's
  * `main()` fold (main.py:143-275):
  *
  * {{{
  * source → repartition → [project] → [illumination-correct]
  *   → [segment] → [sample/limit] → [mask filters]
  *   → one per-record pass: meta ++ per chain (N mask branches, then raw)
  *       [method → border-scrub → bbox → apply]
  *       → [population filter] → [normalize] → features
  *   → coalesce → export
  * }}}
  *
  * Branch concat: the reference concatenates branch feature tables
  * column-wise relying on identical partitioning (main.py:260-268, J3).
  * Here every chain runs on the same record inside one map, so one
  * event's columns form one row by construction — no join. The
  * population filter and normalization are group-keyed aggregates:
  * each is taken for every chain in one job over the cached prepared
  * stream, keyed by chain, and its small result rides in that pass's
  * closure.
  *
  * The wide table is one [[graft.plans.WideRowsPlan]] node, whatever
  * the caller does with it next: the CLI exports it, and the registry
  * reduces it with [[graft.rel.Digest.rows]], which digests inside
  * that node. The pipeline itself has no digest mode.
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
    runPrepared(spark, prepare(spark, source, cfg), cfg)._1

  /** every pre-branch stage (repartition → project → illumination →
    * segment → sample → mask filters): the stream [[runPrepared]] reads.
    * The caches a stage creates (illumination, sampling with
    * replacement) go to `caches` for the caller to release. */
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

  /** Every branch chain and its features over an already-prepared
    * stream (see [[prepare]]), in one per-record pass → the wide
    * feature table, one [[graft.plans.WideRowsPlan]] node (so
    * [[graft.rel.Digest.rows]] digests it inside that node). Also returns
    * chain 0's extents (the first mask branch's) when normalization or
    * `withExtents` took them; Cli writes channel_boundaries.csv and
    * quantiles.csv from these. A config with an aggregate caches `ds`
    * through `caches`. */
  def runPrepared(spark: SparkSession, ds: Dataset[ImageEvent],
      cfg: PipelineConfig, caches: RunCaches = new RunCaches,
      withExtents: Boolean = false): (DataFrame, Option[Extents]) = {
    val src =
      if (cfg.populationFilter || cfg.normalize || withExtents) caches.cache(ds) else ds
    val (steps, extents) = chains(src, cfg, withExtents)
    val (sch, fill) = fusedRow(cfg, steps)
    (Features.wideFrame(src, sch)(fill), extents)
  }

  /** every chain's masking step: the mask branches in config order,
    * then raw (the unmasked record) */
  private[graft] def maskSteps(cfg: PipelineConfig): Seq[ImageEvent => ImageEvent] =
    cfg.branches.map(b =>
      Masking.branchRecord(b.method, cfg.mainChannelIndex, cfg.combinedIndices) _) ++
      (if (includeRaw(cfg)) Seq((e: ImageEvent) => e) else Nil)

  /** Every chain as one per-record function: `branchRecord →
    * population filter → normalize`. Their aggregates are keyed by
    * chain: one job takes every chain's filter stats, one every
    * chain's per-group, per-channel extents over the records its filter
    * keeps, however many chains there are. Each job recomputes the
    * masks from `ds`. Also returns chain 0's extents when taken. */
  private def chains(ds: Dataset[ImageEvent], cfg: PipelineConfig, withExtents: Boolean)
      : (Seq[ImageEvent => ImageEvent], Option[Extents]) = {
    import ds.sparkSession.implicits._
    def keyed(steps: Seq[ImageEvent => ImageEvent])(e: ImageEvent) =
      steps.indices.iterator.map(i => (i, steps(i)(e)))
    val masked = maskSteps(cfg)
    val filtered = if (!cfg.populationFilter) masked else {
      val q5 = PopulationFilter.thresholds(ds.flatMap(keyed(masked)(_).collect {
        case (i, r) if r.hasPixels => (i, PopulationFilter.filterSum(r))
      }))
      masked.indices.map(i => masked(i).andThen(
        PopulationFilter.keepRecord(q5.getOrElse(i, Double.NegativeInfinity))))
    }
    if (!cfg.normalize && !withExtents) (filtered, None)
    else {
      val extents = Normalization.keyedExtents(ds.flatMap(keyed(filtered)(_).flatMap {
        case (i, r) => Normalization.extentRows(i)(r)
      }))
      val normalized = if (!cfg.normalize) filtered else filtered.indices.map(i =>
        filtered(i).andThen(Normalization.normalizeRecord(extents.getOrElse(i, Map.empty))))
      (normalized, Some(extents.getOrElse(0, Map.empty)))
    }
  }

  /** the fused wide row: its declared schema (meta ++ every branch's
    * feature columns ++ raw) and the per-record cell writer, which
    * writes each chain's cells, in that order, from its record under
    * `chains` ([[maskSteps]]
    * for a config without aggregates); each branch may select its own
    * feature types (the reference's per-branch feature_extraction map) */
  private[graft] def fusedRow(cfg: PipelineConfig,
      chains: Seq[ImageEvent => ImageEvent]): (StructType, (ImageEvent, WideCells) => Unit) = {
    val channelNames = cfg.channelNames
    val perChain =
      cfg.branches.map(b => (branchPrefix(b), b.featureTypes.getOrElse(cfg.featureTypes))) ++
        (if (includeRaw(cfg)) Seq(("raw", Seq("raw"))) else Nil)
    val featNames = perChain.flatMap { case (p, types) =>
      Features.featureNames(channelNames, types).map(Features.renamed(_, p, isLoaderMeta = false))
    }
    val sch = StructType(
      Features.schema(channelNames, cfg.featureTypes, null).fields.take(4) ++
        featNames.map(StructField(_, DoubleType)))
    val layouts = perChain.map { case (_, types) => Features.layout(channelNames, types) }.toArray
    // chain i's cells start at field starts(i), after the 4 meta fields
    val starts = layouts.scanLeft(4)(_ + _.nSlots)
    require(starts.last == sch.length,
      s"wide row layout has ${starts.last} cells, schema has ${sch.length} fields")
    val steps = chains.toArray
    val fill = (e: ImageEvent, out: WideCells) => {
      Features.metaCells(e, out)
      var i = 0
      while (i < steps.length) {
        Features.featureCells(steps(i)(e), channelNames, layouts(i), out, starts(i))
        i += 1
      }
    }
    (sch, fill)
  }

  /** the reference's own e2e shape (test/data/scip_zarr.yml): synthetic
    * events through two identical circle branches + li + spot, full
    * feature set — used by the e2e spec and the flagship entry. */
  def referenceShape(spark: SparkSession, nEvents: Int = 10): DataFrame = {
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
    run(spark, Synthetic.conftest(spark, nEvents), cfg)
  }
}
