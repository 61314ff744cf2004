package graft.plans

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.cube.DataCube
import graft.sources.{Rasters, Sinks}

/** openEO process-graph executor analog (SURVEY.md §2C16; reference:
  * minibackend/openeo_minibackend.py + custom_processes.py).
  *
  * Executes a JSON process graph against the testdata lake by composing
  * `DataCube` operators. Because every process resolves to declarative
  * DataFrame transforms, the *whole graph* collapses into one Catalyst
  * plan: a graph's filter nodes end up as parquet pushdown predicates of
  * its load node, regardless of graph shape — the optimization story the
  * reference's per-process dask execution cannot get.
  *
  * Node arguments follow the openEO convention: literals, or
  * `{"from_node": "id"}` references resolved lazily with memoization from
  * the single `"result": true` node.
  */
final class ProcessGraph(spark: SparkSession, dataDir: String) {

  private val mapper = new ObjectMapper()

  def run(graphJson: String): DataFrame = {
    val root = mapper.readTree(graphJson)
    val graph = if (root.has("process_graph")) root.get("process_graph") else root
    val nodes = graph.properties().asScala
      .map(e => e.getKey -> e.getValue).toMap
    val resultId = nodes.collectFirst {
      case (id, n) if n.path("result").asBoolean(false) => id
    }.getOrElse(throw new IllegalArgumentException(
      "process graph has no result node"))
    // node values are cubes OR models — the reference's registry passes
    // MLModel objects between ml_* nodes the same way (test_rf_class_
    // workflow); cubeArg/modelArg unwrap with a typed error
    val memo = scala.collection.mutable.Map.empty[String, Any]
    // the chain of nodes under evaluation: meeting one of them again
    // means the graph has a cycle, which would otherwise recurse forever
    val active = scala.collection.mutable.LinkedHashSet.empty[String]
    def evalNode(id: String): Any = memo.getOrElseUpdate(id, {
      if (!active.add(id)) throw new IllegalArgumentException(
        "process graph has a cycle: " +
          (active.toSeq.dropWhile(_ != id) :+ id).mkString(" -> "))
      val node = nodes.getOrElse(id,
        throw new IllegalArgumentException(s"unknown node '$id'"))
      val value =
        exec(node.get("process_id").asText(), node.get("arguments"), evalNode)
      active -= id
      value
    })
    evalNode(resultId) match {
      case c: DataCube => c.df
      // curation-pipeline graphs produce document tables, not cubes
      case df: DataFrame => df
      case other => throw new IllegalArgumentException(
        s"process graph result node must produce a datacube or a " +
          s"document table, got ${other.getClass.getSimpleName}")
    }
  }

  /** Polygon argument: a bare ring `[[x, y], ...]` or real GeoJSON — a
    * Polygon geometry, a Feature, or the first feature of a
    * FeatureCollection (what openEO clients actually send; the exterior
    * ring is used, matching the rasterize analog's even-odd test). */
  private def polygonArg(node: JsonNode): Seq[(Double, Double)] = {
    require(node != null, "polygon argument missing")
    val ring: JsonNode = node.path("type").asText("") match {
      case "Polygon" => node.path("coordinates").path(0)
      case "Feature" => node.path("geometry").path("coordinates").path(0)
      case "FeatureCollection" =>
        // single-polygon argument position: a multi-feature collection here
        // would silently lose every feature after the first — reject it
        // (multi-geometry inputs go through zonesArg, which handles all
        // features)
        require(node.path("features").size() == 1,
          s"polygon argument: FeatureCollection has " +
            s"${node.path("features").size()} features; pass exactly one " +
            "(use the zones form for multi-polygon operations)")
        node.path("features").path(0).path("geometry")
          .path("coordinates").path(0)
      case _ => node
    }
    require(ring.isArray && ring.size() >= 3,
      "polygon must be [[x,y],...] or GeoJSON Polygon/Feature(Collection)")
    val pts = ring.elements().asScala.map { pt =>
      (pt.get(0).asDouble(), pt.get(1).asDouble())
    }.toSeq
    // GeoJSON rings repeat the first vertex at the end; the ray-cast
    // operator expects an open ring
    if (pts.length > 3 && pts.head == pts.last) pts.dropRight(1) else pts
  }

  /** Named zones: a `{name: ring}` object or a GeoJSON FeatureCollection
    * whose features carry a `name`/`id` property. */
  private def zonesArg(node: JsonNode): Seq[(String, Seq[(Double, Double)])] =
    if (node.path("type").asText("") == "FeatureCollection")
      node.path("features").elements().asScala.zipWithIndex.map {
        case (f, i) =>
          val name = Option(f.path("properties").path("name").asText(null))
            .orElse(Option(f.path("id").asText(null)))
            .getOrElse(s"zone$i")
          name -> polygonArg(f)
      }.toSeq
    else
      node.properties().asScala.map { e =>
        e.getKey -> polygonArg(e.getValue)
      }.toSeq

  /** The unary per-cell vocabulary shared by `apply` and `apply_polygon`
    * (abs-guarded sqrt/ln, like the reference's safe math wrappers). */
  private object UnaryProcess {
    def unapply(name: String): Option[org.apache.spark.sql.Column =>
        org.apache.spark.sql.Column] = name match {
      case "absolute" => Some(c => abs(c))
      case "sqrt"     => Some(c => sqrt(abs(c)))
      case "ln"       => Some(c => log(abs(c) + 1))
      case "exp"      => Some(c => exp(c))
      case _          => None
    }
  }

  private def cubeArg(args: JsonNode, name: String,
                      evalNode: String => Any): DataCube =
    nodeArg(args, name, evalNode) match {
      case c: DataCube => c
      case other => throw new IllegalArgumentException(
        s"argument '$name' must be a datacube, got " +
          other.getClass.getSimpleName)
    }

  private def modelArg(args: JsonNode, name: String,
                       evalNode: String => Any): Any =
    nodeArg(args, name, evalNode)

  private def fittedArg(args: JsonNode,
                        evalNode: String => Any): graft.ml.RfClassModel =
    modelArg(args, "model", evalNode) match {
      case m: graft.ml.RfClassModel => m
      case other => throw new IllegalArgumentException(
        s"expected a fitted model, got ${other.getClass.getSimpleName}")
    }

  private def nodeArg(args: JsonNode, name: String,
                      evalNode: String => Any): Any = {
    val ref = args.get(name)
    require(ref != null && ref.has("from_node"),
      s"argument '$name' must be a from_node reference")
    evalNode(ref.get("from_node").asText())
  }

  private def exec(processId: String, args: JsonNode,
                   evalNode: String => Any): Any = processId match {

    // load_collection (reference: custom_processes.py:60): testdata table →
    // long-format cube, with optional extents applied at load so they reach
    // the parquet scan as pushed filters.
    case "load_collection" =>
      val id = args.get("id").asText()
      val te = args.path("temporal_extent")
      var cube = id match {
        case "events" =>
          // temporal extent is applied at load on the raw storage column so
          // it pushes into the parquet scan (Tables.eventsRanged) — the
          // openEO contract: extents are load_collection's job.
          val src = if (te.isArray && te.size == 2)
            Tables.eventsRanged(spark, dataDir, te.get(0).asText(), te.get(1).asText())
          else Tables.events(spark, dataDir)
          DataCube(src.select(col("ts").as("time"),
            col("event_type").as("band"), col("value")))
        case "grid" =>
          // 64×64 raster derived from lineitem (same construction as the
          // verify queries): x/y spatial dims + returnflag band
          import graft.core.Exact
          DataCube(Tables.lineitem(spark, dataDir)
            .select(pmod(col("l_partkey"), lit(64)).as("x"),
              pmod(col("l_suppkey"), lit(64)).as("y"),
              col("l_returnflag").as("band"), col("l_quantity"))
            .groupBy("x", "y", "band")
            .agg(Exact.rnd4(Exact.esum(col("l_quantity"))).as("value")))
        case "embeddings" =>
          // vector table as a (vec_id, band, value) cube: every vector has
          // all 64 f-bands, the complete-group shape ml_predict pivots
          DataCube(Tables.embeddings(spark, dataDir)
            .select(col("vec_id"),
              posexplode(col("embedding")).as(Seq("_p", "value")))
            .select(col("vec_id"), concat(lit("f"), col("_p")).as("band"),
              col("value").cast("double").as("value")))
        case other => throw new IllegalArgumentException(
          s"load_collection: unknown collection '$other'")
      }
      val bands = args.path("bands")
      if (bands.isArray)
        cube = cube.filterBands(bands.elements().asScala.map(_.asText()).toSeq)
      // spatial_extent belongs to load_collection like the temporal one
      // (reference: custom_processes.py:55 BoundingBox) — applied at load
      // so the x/y range reaches the scan as a pushed/pruning predicate
      val se = args.path("spatial_extent")
      if (se.isObject)
        cube = cube.filterBbox(
          se.path("west").asDouble(), se.path("east").asDouble(),
          se.path("south").asDouble(), se.path("north").asDouble())
      cube

    case "filter_temporal" =>
      val ext = args.get("extent")
      cubeArg(args, "data", evalNode)
        .filterTemporal(ext.get(0).asText(), ext.get(1).asText())

    case "filter_bands" =>
      val bands = args.get("bands").elements().asScala.map(_.asText()).toSeq
      cubeArg(args, "data", evalNode).filterBands(bands)

    // filter_labels with the condition child graph in safe predicate form:
    // a whitelisted expression over `x` (the label), comparisons included
    case "filter_labels" =>
      val cube = cubeArg(args, "data", evalNode)
      val dim = graft.cube.DimAliases.alternative(cube.dims,
        args.get("dimension").asText())
        .getOrElse(throw new IllegalArgumentException(
          s"filter_labels: no dimension ${args.get("dimension").asText()}"))
      val cond = args.get("condition").asText()
      cube.filterLabels(dim, c =>
        graft.ml.ProcessExpression.predicate(spark, cond, Map("x" -> c)))

    // aggregate_temporal with explicit (possibly overlapping) intervals
    case "aggregate_temporal" =>
      val intervals = args.get("intervals").elements().asScala.zipWithIndex
        .map { case (iv, i) =>
          val label = if (iv.size() > 2) iv.get(2).asText() else s"i$i"
          (iv.get(0).asText(), iv.get(1).asText(), label)
        }.toSeq
      cubeArg(args, "data", evalNode)
        .aggregateTemporal(intervals, args.path("reducer").asText("mean"))

    case "filter_bbox" =>
      val e = args.get("extent")
      cubeArg(args, "data", evalNode).filterBbox(
        e.get("west").asDouble(), e.get("east").asDouble(),
        e.get("south").asDouble(), e.get("north").asDouble())

    // apply with a named unary process, or — the reference's child-graph
    // flexibility, made safe — any whitelisted expression over `x`
    // (ProcessExpression: parse-tree whitelist, still pure codegen math)
    case "apply" =>
      args.get("process").asText() match {
        case UnaryProcess(f) => cubeArg(args, "data", evalNode).applyUnary(f)
        case expression => graft.ml.ProcessExpression.scaleCube(
          cubeArg(args, "data", evalNode), "sql", expression)
      }

    case "reduce_dimension" =>
      cubeArg(args, "data", evalNode).reduceDimension(
        args.get("dimension").asText(), args.get("reducer").asText())

    // apply_dimension with the along-dim process vocabulary: cumulative
    // reducers ("cumsum"/"cummax"/…) or a centered moving window
    case "apply_dimension" =>
      val cube = cubeArg(args, "data", evalNode)
      val dim = args.path("dimension").asText("t")
      val resolved = graft.cube.DimAliases.alternative(cube.dims, dim)
        .getOrElse(throw new IllegalArgumentException(
          s"apply_dimension: no dimension $dim"))
      val series = cube.dims.filterNot(_ == resolved)
      args.get("process").asText() match {
        case p if p.startsWith("cum") =>
          cube.cumulateOverDim(resolved, series, reducer = p.stripPrefix("cum"))
        case "moving_mean" =>
          cube.movingAggregate(resolved, series,
            before = args.path("width").asInt(1),
            after = args.path("width").asInt(1), reducer = "mean")
        case "sort"  => cube.sortAlongDim(resolved)
        case "order" => cube.orderAlongDim(resolved, series)
        case other =>
          throw new IllegalArgumentException(s"apply_dimension: $other")
      }

    case "fit_curve" =>
      val cube = cubeArg(args, "data", evalNode)
      val series = cube.dims.filterNot(d =>
        graft.cube.DimAliases.alternative(Seq(d), "t").isDefined)
      cube.copy(df = cube.fitCurvePoly(series,
        args.path("epoch").asText("2024-01-01"),
        args.path("degree").asInt(2)))

    case "predict_curve" =>
      val cube = cubeArg(args, "data", evalNode)
      val coefs = cubeArg(args, "parameters", evalNode)
      cube.predictCurvePoly(coefs.df,
        coefs.dims.filterNot(_ == "coefs"),
        args.path("epoch").asText("2024-01-01"),
        args.path("degree").asInt(2))

    case "aggregate_temporal_period" =>
      cubeArg(args, "data", evalNode).aggregateTemporalPeriod(
        args.get("period").asText(), args.get("reducer").asText())

    case "ndvi" =>
      val tb = Option(args.get("target_band")).map(_.asText())
      cubeArg(args, "data", evalNode).ndvi(
        args.path("nir").asText("nir"), args.path("red").asText("red"), tb)

    case "mask" =>
      val repl = Option(args.get("replacement")).map(_.asDouble())
      cubeArg(args, "data", evalNode)
        .mask(cubeArg(args, "mask", evalNode), repl)

    // merge_cubes with an overlap resolver: a named reducer, or a
    // whitelisted expression over `x` (cube1's value) and `y` (cube2's) —
    // openEO's resolver child graph in the safe expression form. Named
    // resolvers treat a cell present in only one cube as that cube's
    // value; an expression resolver sees the raw (possibly null) sides.
    case "merge_cubes" =>
      val resolver: (org.apache.spark.sql.Column,
        org.apache.spark.sql.Column) => org.apache.spark.sql.Column =
        args.path("overlap_resolver").asText("sum") match {
          case "sum" => (l, r) => coalesce(l, lit(0.0)) + coalesce(r, lit(0.0))
          case "max" => (l, r) => greatest(l, r)
          case "min" => (l, r) => least(l, r)
          case "first" => (l, r) => coalesce(l, r)
          case "mean" => (l, r) =>
            (coalesce(l, r) + coalesce(r, l)) / lit(2.0)
          case expression => (l, r) =>
            graft.ml.ProcessExpression.column(spark, expression,
              Map("x" -> l, "y" -> r))
        }
      cubeArg(args, "cube1", evalNode).merge(
        cubeArg(args, "cube2", evalNode), resolver)

    case "mask_polygon" =>
      val poly = polygonArg(args.get("mask"))
      val repl = Option(args.get("replacement")).map(_.asDouble())
      val inside = args.path("inside").asBoolean(false)
      cubeArg(args, "data", evalNode).maskPolygon(poly, repl, inside)

    case "filter_spatial" =>
      cubeArg(args, "data", evalNode)
        .filterSpatial(polygonArg(args.get("geometries")))

    case "aggregate_spatial" =>
      val zones = zonesArg(args.get("geometries"))
      val c = cubeArg(args, "data", evalNode)
      c.copy(df = c.aggregateSpatialPolygons(zones,
        args.path("reducer").asText("mean"),
        extraKeys = Seq("band").filter(c.dims.contains)))

    case "apply_kernel" =>
      val kernel = args.get("kernel").elements().asScala.map(
        _.elements().asScala.map(_.asDouble()).toSeq).toSeq
      cubeArg(args, "data", evalNode).applyKernel(kernel,
        (args.path("x_min").asInt(0), args.path("x_max").asInt(63)),
        (args.path("y_min").asInt(0), args.path("y_max").asInt(63)))

    case "resample_spatial" =>
      cubeArg(args, "data", evalNode).resampleSpatial(
        args.path("resolution").asInt(2), args.path("method").asText("mean"))

    case "trim_cube" =>
      cubeArg(args, "data", evalNode).trimCube()

    // linear nodata interpolation along time, per series (= every
    // non-time dim), the overrides/arrays.py:7 process
    case "array_interpolate_linear" =>
      val cube = cubeArg(args, "data", evalNode)
      val t = cube.requireDim(cube.timeDim, "temporal")
      cube.interpolateLinear(cube.dims.filterNot(_ == t))

    // grid-align onto another cube's spatial axes (target is a from_node)
    case "resample_cube_spatial" =>
      cubeArg(args, "data", evalNode).resampleCubeSpatial(
        cubeArg(args, "target", evalNode),
        args.path("method").asText("mean"))

    // nearest-in-time alignment onto another cube's timestamps
    case "resample_cube_temporal" =>
      val cube = cubeArg(args, "data", evalNode)
      val target = cubeArg(args, "target", evalNode)
      val ts = cube.requireDim(cube.timeDim, "temporal")
      val tt = target.requireDim(target.timeDim, "temporal")
      val series = cube.dims.filterNot(_ == ts)
      require(series.forall(target.dims.contains),
        s"resample_cube_temporal: target lacks series dims $series")
      cube.resampleCubeTemporal(
        target.df.select((series.map(col) :+ col(tt).as(ts)): _*).distinct(),
        series)

    case "resample_spatial_up" =>
      cubeArg(args, "data", evalNode)
        .upsampleSpatial(args.path("factor").asInt(2))

    // openEO run_udf: user code against the cube. Runtime `sql` maps to the
    // whitelisted processing-expression path (no arbitrary code, like the
    // reference's module whitelist); other runtimes raise not-implemented.
    case "run_udf" =>
      graft.ml.ProcessExpression.scaleCube(
        cubeArg(args, "data", evalNode),
        args.path("runtime").asText("sql"),
        args.get("udf").asText())

    case "apply_neighborhood" =>
      cubeArg(args, "data", evalNode).applyNeighborhood(
        args.path("size_x").asInt(1), args.path("size_y").asInt(1),
        args.path("reducer").asText("mean"),
        (args.path("x_min").asInt(0), args.path("x_max").asInt(63)),
        (args.path("y_min").asInt(0), args.path("y_max").asInt(63)))

    case "reduce_spatial" =>
      cubeArg(args, "data", evalNode)
        .reduceSpatial(args.get("reducer").asText())

    // anomaly: single-cube form derives normals from the data itself;
    // with a `normals` from_node it subtracts the precomputed climatology
    // (the openEO two-argument signature)
    case "anomaly" =>
      val freq = args.path("frequency").asText("month")
      if (args.has("normals"))
        cubeArg(args, "data", evalNode)
          .anomalyAgainst(cubeArg(args, "normals", evalNode), freq)
      else cubeArg(args, "data", evalNode).anomaly(freq)

    case "climatological_normal" =>
      cubeArg(args, "data", evalNode)
        .climatologicalNormal(args.path("frequency").asText("month"))

    case "sort" =>
      cubeArg(args, "data", evalNode).sortAlongDim(
        args.get("dimension").asText(),
        !args.path("ascending").isBoolean || args.get("ascending").asBoolean())

    case "rearrange" =>
      cubeArg(args, "data", evalNode).rearrange(
        args.get("dimension").asText(),
        args.get("order").elements().asScala.map(_.asInt()).toSeq)

    case "date_shift" =>
      cubeArg(args, "data", evalNode).shiftTime(
        args.get("value").asInt(), args.get("unit").asText())

    case "linear_scale_range" =>
      cubeArg(args, "data", evalNode).linearScaleRange(
        args.get("inputMin").asDouble(), args.get("inputMax").asDouble(),
        args.path("outputMin").asDouble(0.0),
        args.path("outputMax").asDouble(1.0))

    case "flatten_dimensions" =>
      cubeArg(args, "data", evalNode).flattenDimensions(
        args.get("dimensions").elements().asScala.map(_.asText()).toSeq,
        args.get("target_dimension").asText(),
        args.path("label_separator").asText("~"))

    case "unflatten_dimension" =>
      cubeArg(args, "data", evalNode).unflattenDimension(
        args.get("dimension").asText(),
        args.get("target_dimensions").elements().asScala.map(_.asText()).toSeq,
        args.path("label_separator").asText("~"))

    case "aggregate_spatial_window" =>
      val size = Option(args.get("size"))
        .map(_.elements().asScala.map(_.asInt()).toSeq)
        .getOrElse(Seq(2, 2))
      require(size.length == 2,
        s"aggregate_spatial_window: size must be [x, y], got $size")
      cubeArg(args, "data", evalNode).aggregateSpatialWindow(
        size(0), size(1), args.path("reducer").asText("mean"))

    case "add_dimension" =>
      cubeArg(args, "data", evalNode).addDimension(
        args.get("name").asText(), args.get("label").asText())

    case "drop_dimension" =>
      cubeArg(args, "data", evalNode)
        .dropDimension(args.get("name").asText())

    case "rename_dimension" =>
      cubeArg(args, "data", evalNode).renameDimension(
        args.get("source").asText(), args.get("target").asText())

    case "rename_labels" =>
      val source = args.get("source").elements().asScala.map(_.asText()).toSeq
      val target = args.get("target").elements().asScala.map(_.asText()).toSeq
      require(source.length == target.length,
        s"rename_labels: ${source.length} source labels vs " +
          s"${target.length} targets")
      cubeArg(args, "data", evalNode).renameLabels(
        args.get("dimension").asText(), source.zip(target).toMap)

    // region-scoped apply: cells inside the polygon go through the unary
    // process, the rest pass unchanged (openEO apply_polygon)
    case "apply_polygon" =>
      val f = args.get("process").asText() match {
        case UnaryProcess(g) => g
        case other => throw new IllegalArgumentException(
          s"apply_polygon: unknown process '$other'")
      }
      cubeArg(args, "data", evalNode)
        .applyPolygon(polygonArg(args.get("polygons")), f)

    // ---- ML processes as graph nodes -------------------------------------
    // The minibackend registers the ML processes alongside the cube
    // processes (openeo_minibackend.py:52), so the reference's RF workflow
    // (tests/test_rf_class_workflow.py: init → fit → save → load →
    // predict) is a single graph here too. Model-typed nodes flow between
    // ml_* processes like cube-typed ones flow between cube processes.

    case "mlm_class_random_forest" =>
      graft.ml.MlProcesses.mlmClassRandomForest(
        numTrees = args.path("num_trees").asInt(100),
        maxVariables = args.path("max_variables").asText("sqrt"),
        seed = args.path("seed").asLong(42L),
        maxDepth = args.path("max_depth").asInt(10))

    // ml_fit trains on a named TABLE (features array + target column) —
    // the training set carries labels, which a value cube does not
    case "ml_fit" =>
      val untrained = modelArg(args, "model", evalNode) match {
        case u: graft.ml.RfUntrained => u
        case other => throw new IllegalArgumentException(
          s"ml_fit: model must be an untrained forest, got " +
            other.getClass.getSimpleName)
      }
      val training = args.path("training").asText("embeddings") match {
        case "embeddings" => Tables.embeddings(spark, dataDir)
        case other => throw new IllegalArgumentException(
          s"ml_fit: unknown training collection '$other'")
      }
      graft.ml.MlProcesses.mlFit(untrained, training,
        labelCol = args.path("target").asText("label"))

    case "save_ml_model" =>
      val m = fittedArg(args, evalNode)
      graft.ml.MlProcesses.saveMlModel(m, args.get("path").asText())
      m

    case "load_ml_model" =>
      graft.ml.MlProcesses.loadMlModel(spark, args.get("path").asText())

    // ml_predict: `model` is a from_node reference (fitted in-graph), a
    // STAC-MLM item JSON path (external batched execution — or, when the
    // item's framework is graft-sk-forest, the converted-sklearn native
    // scorer over a documents table: the reference's pickle-predict seam,
    // scikit_learn_model.py:53), or a saved MLlib model directory.
    case "ml_predict" =>
      if (args.path("model").has("from_node"))
        fittedArg(args, evalNode).predictCube(cubeArg(args, "data", evalNode))
      else {
        val uri = args.get("model").asText()
        if (uri.endsWith(".json")) {
          val itemJson = graft.sources.Remote.readString(uri)
          val framework = graft.ml.StacMlm.parseItem(itemJson).framework
          if (framework.equalsIgnoreCase(graft.ml.SkForest.Framework)) {
            val (forest, bands) = graft.ml.StacMlm.loadSkForest(uri,
              itemJson = Some(itemJson))
            graft.ml.SkForest.scoreDocuments(docsArg(args, evalNode),
              forest, bands)
          } else {
            val m = graft.ml.StacMlm.load(uri,
              inputIndex = args.path("input_index").asInt(0),
              outputIndex = args.path("output_index").asInt(0))
            DataCube(m.predictCube(cubeArg(args, "data", evalNode)))
          }
        } else {
          graft.ml.RfClassModel.load(spark, uri)
            .predictCube(cubeArg(args, "data", evalNode))
        }
      }

    // save_result (reference: custom_processes.py:246) — pass-through when
    // no path is given (the driver materializes results itself). Formats:
    // the lake-native parquet/csv/json, "gridded"/"gridded-csv" (the wide
    // raster layout), and the BINARY raster containers of the reference's
    // save_result (custom_processes.py:115 netcdf, :121 GTiff, :187 zarr)
    // — written from scratch against the public specs (Rasters).
    case "save_result" =>
      val cube = cubeArg(args, "data", evalNode)
      Option(args.get("path")).foreach { p =>
        args.path("format").asText("parquet") match {
          case "gridded" | "gridded-parquet" =>
            Sinks.saveGridded(cube, p.asText(), "parquet")
          case "gridded-csv" => Sinks.saveGridded(cube, p.asText(), "csv")
          case "GTiff" | "gtiff" => Rasters.saveGeoTiff(cube, p.asText())
          case "netcdf" | "NetCDF" => Rasters.saveNetcdf(cube, p.asText())
          case "zarr" => Rasters.saveZarr(cube, p.asText(),
            chunkY = args.path("chunk_y").asInt(256),
            chunkX = args.path("chunk_x").asInt(256))
          case fmt => Sinks.saveResult(cube.df, p.asText(), fmt)
        }
      }
      cube

    // --- curation-pipeline vocabulary (SURVEY §2D26/D57): the same JSON
    // graph mechanism applied to the training-data operators, so a user
    // declares an entire curation chain as data. Nodes carry DataFrames
    // (document tables) instead of cubes; every process composes the same
    // library operators the direct queries use, so the whole graph still
    // collapses into one Catalyst plan (filters merge map-side; shuffles
    // appear only at the dedup bucket hops and the pack window).

    // load_collection from a binary raster store (the C15d formats as a
    // SOURCE): one task per file/chunk, long-format (slice, row/y, colx/x,
    // value) rows — a saved raster round-trips through the graph surface.
    case "load_raster" =>
      val p = args.path("path").asText()
      args.path("format").asText("GTiff") match {
        case "GTiff" | "gtiff" => Rasters.loadGeoTiff(spark, p)
        case "netcdf" | "NetCDF" => Rasters.loadNetcdf(spark, p)
        case "zarr" => Rasters.loadZarr(spark, p)
        case other => throw new IllegalArgumentException(
          s"load_raster: unknown format '$other'")
      }

    case "load_documents" =>
      // lang rides along for label-consuming nodes (classify_nb); the
      // curation nodes project it away in their own selects.
      Tables.documents(spark, dataDir)
        .select(col("doc_id"), col("source"), col("lang"), col("text"))

    case "filter_language" =>
      val d = docsArg(args, evalNode)
      d.filter(graft.functions.TextFunctions.langPredict(
        split(col("text"), " ")) === args.path("language").asText("en"))

    case "filter_quality" =>
      val d = docsArg(args, evalNode)
      d.filter(graft.functions.TextFunctions.qualityScore(col("text")) >=
        args.path("min_score").asDouble(0.5))

    case "near_dedup_first_wins" =>
      val d = docsArg(args, evalNode)
      // scan-parallelism floor on the SIGNATURE side only: the shingle+md5
      // chain is the CPU-dense half of this node, and a one-split filtered
      // corpus otherwise runs it in one task (r15 profile:
      // process_graph_export = 10 single-task jobs). The verdict join and
      // the kept rows keep the caller's layout; first-wins is min-id,
      // order-free, so the repartition cannot change the verdicts.
      val verdicts = graft.dedup.Dedup.firstWinsKept(
        graft.dedup.Dedup.minhashSignatures(Tables.fanOut(d)))
      d.join(verdicts, Seq("doc_id"), "left")
        .filter(col("kept").isNull || col("kept") === 1)
        .drop("kept")

    case "pack_sequences" =>
      graft.functions.TextFunctions.packBySource(
        docsArg(args, evalNode), args.path("budget").asInt(1024))

    case "filter_gopher" =>
      docsArg(args, evalNode).filter(
        graft.functions.TextFunctions.gopherSignals(col("text"))
          .getField("pass"))

    // deterministic coordinated sample — the same md5 coin every sampler
    // here uses, so graph-declared samples reproduce across runs/engines
    case "sample_documents" =>
      val d = docsArg(args, evalNode)
      d.filter(graft.functions.TextFunctions.hashSampleKeep(
        col("doc_id"), args.path("rate").asDouble(0.1)))

    // source-weighted token-budget selection (D31); the selection is
    // semi-joined back so downstream nodes keep the full document table.
    // `data` is referenced twice (selection + join-back) — Spark does not
    // CSE duplicate subtrees, so put selection nodes late in a graph or
    // behind a persisted stage in a long pipeline.
    case "mix_to_budget" =>
      val d = docsArg(args, evalNode)
      val weights = Option(args.get("weights")).map(_.properties().asScala
        .map(e => e.getKey -> e.getValue.asDouble()).toSeq).getOrElse(Seq())
      val picked = graft.functions.TextFunctions.mixToBudget(d, weights,
        args.path("default_weight").asDouble(1.0),
        args.path("budget").asLong(10000L))
      d.join(picked.select("doc_id"), Seq("doc_id"), "left_semi")

    case "chunk_documents" =>
      val d = docsArg(args, evalNode)
      d.select(col("doc_id"), posexplode(
          graft.functions.TextFunctions.chunk(split(col("text"), " "),
            args.path("width").asInt(64), args.path("overlap").asInt(16))))
        .select(col("doc_id"), col("pos").cast("int").as("chunk_id"),
          col("col.start").as("start"), col("col.text").as("chunk"))

    // retrieval vocabulary (D57 as graph nodes): embed chunked documents,
    // build slice-query fixtures, exact cosine top-k — the same Retrieval
    // builders pipeline_rag composes in code, so a graph-declared RAG
    // chain lands on identical rows and shares its oracle.
    case "embed_chunks" =>
      graft.functions.Retrieval.embedChunks(docsArg(args, evalNode),
        args.path("dims").asInt(16)).drop("start")

    case "slice_queries" =>
      graft.functions.Retrieval.sliceQueries(docsArg(args, evalNode),
        n = args.path("count").asInt(3), off = args.path("offset").asInt(8),
        len = args.path("length").asInt(24),
        dims = args.path("dims").asInt(16))

    case "similarity_search" =>
      val qs = nodeArg(args, "queries", evalNode) match {
        case df: DataFrame => df
        case other => throw new IllegalArgumentException(
          s"'queries' must be a query table, got ${other.getClass.getSimpleName}")
      }
      graft.functions.Retrieval.topK(docsArg(args, evalNode), qs,
        k = args.path("k").asInt(5))

    // D58 as a graph node: ridge-fit the quality probe and score the
    // corpus — model TRAINING as one declarative node in a curation graph.
    case "fit_quality_probe" =>
      graft.ml.RidgeProbe.qualityProbe(docsArg(args, evalNode))

    // A13/A14 as graph nodes: the deterministic histogram-CART and
    // md5-bootstrap forest fits — tree-model TRAINING declared in a
    // graph, landing on the direct queries' rows (shared oracles).
    case "fit_tree" =>
      graft.ml.TreeProbe.treeQuery(docsArg(args, evalNode))

    case "fit_forest" =>
      graft.ml.TreeProbe.forestQuery(docsArg(args, evalNode))

    // A15/A17/D65 as graph nodes: boosted trees, CV ridge and the
    // logistic probe — the full hash-verified trainer family on the
    // declarative surface.
    case "fit_boost_trees" =>
      graft.ml.BoostProbe.boostQuery(docsArg(args, evalNode))

    case "fit_cv_ridge" =>
      graft.ml.RidgeProbe.cvRidge(docsArg(args, evalNode),
        folds = args.path("folds").asInt(4),
        lambda = 0.001, threshold = 0.5)

    case "fit_logistic_probe" =>
      graft.ml.LogisticProbe.qualityLogistic(docsArg(args, evalNode))

    // embedding-space vocabulary: the vector table, IVF ANN search and
    // the D61 all-but-the-top PCA as graph nodes — the graph-declared
    // chains land on the direct queries' rows and share their oracles.
    case "load_embeddings" =>
      Tables.embeddings(spark, dataDir)

    case "ann_search" =>
      val emb = docsArg(args, evalNode)
      val qs = emb.filter(col("vec_id") <
        args.path("n_queries").asInt(20))
      graft.sim.Ann.ivfTopK(qs, emb, k = args.path("k").asInt(5),
        nlist = args.path("nlist").asInt(16),
        nProbe = args.path("n_probe").asInt(4))

    case "pca_project" =>
      graft.ml.Pca.fitProject(docsArg(args, evalNode),
        dims = args.path("dims").asInt(64),
        iters = args.path("iterations").asInt(10))

    // A20/A21 as graph nodes: the NB router fit+score and its kappa
    // report — multi-class classification + evaluation declared in a
    // graph, landing on the direct queries' rows (shared oracles).
    case "classify_nb" =>
      graft.ml.NaiveBayesProbe.fitScore(docsArg(args, evalNode))

    case "evaluate_kappa" =>
      val preds = docsArg(args, evalNode)
      graft.ml.Eval.kappaReport(preds.filter(col("is_pred")),
        args.path("pred").asText("cls"), args.path("actual").asText("actual"))

    // D73/D75 as graph nodes: JL projection and k-center coverage over
    // any embedding-typed node value.
    case "project_embeddings" =>
      graft.sim.Project.jlProject(docsArg(args, evalNode),
        outDims = args.path("out_dims").asInt(16),
        dims = args.path("dims").asInt(64))

    case "kcenter_cover" =>
      graft.sim.KCenter.coverQuery(docsArg(args, evalNode),
        k = args.path("k").asInt(8))

    // D83/D81 as graph nodes: the within-cell k-NN graph and MMR
    // diversified re-ranking over any embedding-typed node value — the
    // quantizer retrains deterministically in-node (the ann_search
    // convention), so graph chains land on the direct queries' rows.
    case "knn_graph" =>
      graft.sim.Ann.knnGraph(docsArg(args, evalNode),
        k = args.path("k").asInt(4),
        nlist = args.path("nlist").asInt(16))

    case "rerank_mmr" =>
      val emb = docsArg(args, evalNode)
      val qs = emb.filter(col("vec_id") <
        args.path("n_queries").asInt(20))
      graft.sim.Ann.mmrRerank(qs, emb,
        kCand = args.path("k_cand").asInt(8),
        kOut = args.path("k_out").asInt(4),
        lam = args.path("lambda").asDouble(0.75))

    // A28 as a graph node: the precision-recall/AP report over any
    // (score, y)-typed node value.
    case "evaluate_pr" =>
      graft.ml.Eval.prReport(docsArg(args, evalNode),
        args.path("score").asText("score"), args.path("label").asText("y"))

    // A23/D80 as graph nodes: the regression-metric report over any
    // (score, y)-typed node value, and bigram-LM fluency scoring.
    case "evaluate_regression" =>
      graft.ml.Eval.regressionReport(docsArg(args, evalNode),
        args.path("score").asText("score"), args.path("label").asText("y"))

    case "score_lm_bigram" =>
      graft.functions.TextFunctions.bigramLmScore(docsArg(args, evalNode))

    // A24/A25 as graph nodes: label-relevance ranked retrieval over an
    // embedding node, then the ranking metrics over any
    // (q_id, rank, rel)-typed node value.
    case "ranked_retrieval" =>
      graft.ml.Eval.labelRanked(docsArg(args, evalNode),
        nQueries = args.path("n_queries").asInt(20),
        k = args.path("k").asInt(10))

    case "evaluate_ndcg" =>
      graft.ml.Eval.ndcgReport(docsArg(args, evalNode),
        k = args.path("k").asInt(10))

    case "evaluate_map" =>
      graft.ml.Eval.mapReport(docsArg(args, evalNode),
        k = args.path("k").asInt(10))

    // D59/D60 as graph nodes: learn a BPE merge table from the corpus, or
    // train-and-tokenize in one declared step.
    case "train_bpe" =>
      graft.functions.Bpe.merges(spark,
        graft.functions.Bpe.train(docsArg(args, evalNode),
          args.path("merges").asInt(8)))

    case "tokenize_bpe" =>
      val d = docsArg(args, evalNode)
      graft.functions.Bpe.subwordCounts(d,
          graft.functions.Bpe.train(d, args.path("merges").asInt(8)))
        .filter(col("n_words") > 0)

    // Corpus augmentation: union a tail-truncated copy of every document
    // under an offset id — the controlled near-duplicate generator the
    // dedup fixtures use (and a mirror/snapshot simulator for pipeline
    // rehearsals), so detector nodes downstream see known-answer dups.
    case "with_truncated_variants" =>
      val d = docsArg(args, evalNode)
      val k = args.path("drop_words").asInt(5)
      // default = the fixture twin shift, so graph chains land on the same
      // rows as the direct dedup queries (shared oracles)
      val off = args.path("id_offset").asLong(graft.core.Tables.TwinShift)
      val t = split(col("text"), " ")
      val base = d.select(col("doc_id"), col("text"))
      base.unionByName(base.select((col("doc_id") + off).as("doc_id"),
        concat_ws(" ", slice(t, lit(1), greatest(size(t) - k, lit(3))))
          .as("text")))

    // D87/D76 as graph nodes: the multi-signal dedup evidence table and
    // asymmetric containment scoring over any (doc_id, text) node value —
    // candidate generation runs in-node (the ann_search convention), so
    // graph chains land on the direct queries' rows (shared oracles).
    case "dedup_evidence" =>
      graft.dedup.Dedup.dedupEnsemble(docsArg(args, evalNode),
        jThreshold = args.path("j_threshold").asDouble(0.5))

    case "score_containment" =>
      // one shingle pass shared by candidate generation and verification
      // (the dedup_jaccard/dedup_containment convention); CacheScope-
      // pinned, released at the harness/service materialization barrier
      val shared = graft.core.CacheScope.pin(
        graft.dedup.Dedup.shingledDistinct(docsArg(args, evalNode)))
      graft.dedup.Dedup.containmentAutoFrom(shared,
        graft.dedup.Dedup.minhashCandidates(
            graft.dedup.Dedup.minhashSignaturesFrom(shared))
          .select("doc_a", "doc_b"),
        threshold = args.path("threshold").asDouble(0.9))

    // D85/D41 as graph nodes: per-source JS drift and temperature-based
    // source rebalancing — the mixture-monitoring/rebalancing half of the
    // curation vocabulary next to mix_to_budget.
    case "source_drift" =>
      graft.functions.TextFunctions.sourceDrift(docsArg(args, evalNode))

    case "temperature_mix" =>
      graft.functions.TextFunctions.temperatureSample(docsArg(args, evalNode),
        budget = args.path("budget").asLong(200L))

    // D89 as a graph node: BM25-shape query over a PREBUILT inverted
    // index (the load_raster convention — the layout is an at-rest
    // artifact addressed by path; build/add/delete/compact are
    // maintenance steps outside the declared query plan).
    case "search_index" =>
      val terms = {
        val t = args.path("terms")
        require(t.isArray && t.size() > 0, "search_index: terms required")
        (0 until t.size()).map(t.get(_).asText())
      }
      graft.sim.InvertedIndex.query(spark, args.path("path").asText(),
        terms, topN = args.path("top_n").asInt(20))

    // D90 as a graph node: the sharding manifest (data card) of any
    // (doc_id, text) node value.
    case "shard_manifest" =>
      graft.sources.Shards.manifest(docsArg(args, evalNode),
        nShards = args.path("n_shards").asInt(8),
        seed = args.path("seed").asText("s42"))

    case other =>
      throw new IllegalArgumentException(s"unknown process_id '$other'")
  }

  private def docsArg(args: JsonNode, evalNode: String => Any): DataFrame =
    nodeArg(args, "data", evalNode) match {
      case df: DataFrame => df
      case other => throw new IllegalArgumentException(
        s"argument 'data' must be a document table, got " +
          other.getClass.getSimpleName)
    }
}
