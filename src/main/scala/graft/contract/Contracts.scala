package graft.contract

import graft.core.FeatureType
import graft.expr.Expr
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StringType, StructType}

/** Constraint ADT (reference: aligned/schemas/constraints.py:76-262), lowered
  * to boolean Columns exactly like the reference's
  * polars_filter_expressions_from (retrieval_job.py:1365-1480).
  */
sealed trait Constraint { def toPredicate(c: Column): Column }
object Constraint {
  case object Required extends Constraint { def toPredicate(c: Column): Column = c.isNotNull }
  case object Optional extends Constraint { def toPredicate(c: Column): Column = lit(true) }
  final case class LowerBound(v: Double, inclusive: Boolean = true) extends Constraint {
    def toPredicate(c: Column): Column = if (inclusive) c >= v else c > v
  }
  final case class UpperBound(v: Double, inclusive: Boolean = true) extends Constraint {
    def toPredicate(c: Column): Column = if (inclusive) c <= v else c < v
  }
  final case class InDomain(values: Seq[String]) extends Constraint {
    def toPredicate(c: Column): Column = c.isin(values: _*)
  }
  final case class MinLength(n: Int) extends Constraint { def toPredicate(c: Column): Column = length(c) >= n }
  final case class MaxLength(n: Int) extends Constraint { def toPredicate(c: Column): Column = length(c) <= n }
  final case class StartsWith(p: String) extends Constraint { def toPredicate(c: Column): Column = c.startsWith(p) }
  final case class EndsWith(p: String) extends Constraint { def toPredicate(c: Column): Column = c.endsWith(p) }
  final case class Regex(p: String) extends Constraint { def toPredicate(c: Column): Column = c.rlike(p) }
}

/** A plain declared feature (reference: schemas/feature.py:554-603). */
final case class Feature(
    name: String,
    dtype: FeatureType,
    description: Option[String] = None,
    constraints: Seq[Constraint] = Nil,
    defaultValue: Option[Any] = None,
    tags: Seq[String] = Nil)

/** Derived feature: expression over other columns, with a dependency depth used
  * for topological batching (schemas/derivied_feature.py:17-76,
  * retrieval_request.py:204-231). */
final case class DerivedFeature(
    name: String,
    dtype: FeatureType,
    expr: Expr,
    dependingOn: Seq[String],
    depth: Int = 1) {
  /** the feature's column, cast to its declared type */
  def column: Column = expr.toColumn.cast(dtype.sparkType)
}

/** Aggregation IR (schemas/derivied_feature.py:79-137): what to aggregate,
  * grouped by the view's entities, over an optional trailing time window. */
final case class AggregationWindow(
    window: java.time.Duration,
    everyInterval: Option[java.time.Duration] = None,
    offsetInterval: Option[java.time.Duration] = None)

final case class AggregatedFeature(
    name: String,
    dtype: FeatureType,
    /** column agg expression builder: given the source column name, the agg Column. */
    agg: AggFunc,
    sourceColumn: String,
    window: Option[AggregationWindow] = None)

/** The aggregation function set (transformation.py:2352-2626). */
sealed trait AggFunc { def apply(c: Column): Column }
object AggFunc {
  case object Sum extends AggFunc { def apply(c: Column): Column = sum(c) }
  case object Mean extends AggFunc { def apply(c: Column): Column = avg(c) }
  case object Min extends AggFunc { def apply(c: Column): Column = min(c) }
  case object Max extends AggFunc { def apply(c: Column): Column = max(c) }
  case object Count extends AggFunc { def apply(c: Column): Column = count(c) }
  case object CountDistinct extends AggFunc { def apply(c: Column): Column = count_distinct(c) }
  /** approximate variant for 100TB-scale cardinality (the exact one shuffles
    * every distinct value; HLL sketches don't). */
  final case class ApproxCountDistinct(rsd: Double = 0.05) extends AggFunc {
    def apply(c: Column): Column = approx_count_distinct(c, rsd)
  }
  case object Std extends AggFunc { def apply(c: Column): Column = stddev_samp(c) }
  case object Variance extends AggFunc { def apply(c: Column): Column = var_samp(c) }
  case object Median extends AggFunc { def apply(c: Column): Column = percentile_approx(c, lit(0.5), lit(10000)) }
  final case class Percentile(p: Double) extends AggFunc {
    def apply(c: Column): Column = percentile_approx(c, lit(p), lit(10000))
  }
  final case class ConcatString(sep: String) extends AggFunc {
    def apply(c: Column): Column = concat_ws(sep, collect_list(c))
  }
  /** custom aggregation escape hatch (compiler/aggregation_factory.py:341-381). */
  final case class Custom(f: Column => Column) extends AggFunc { def apply(c: Column): Column = f(c) }
}

/** Event timestamp with optional TTL (schemas/feature.py:606-629). */
final case class EventTimestamp(name: String, ttl: Option[java.time.Duration] = None)

/** Compiled feature-view contract (reference: CompiledFeatureView,
  * schemas/feature_view.py:40). `source` names are resolved by the store. */
final case class FeatureView(
    name: String,
    source: graft.sources.BatchSource,
    entities: Seq[Feature] = Nil,
    features: Seq[Feature] = Nil,
    derived: Seq[DerivedFeature] = Nil,
    aggregates: Seq[AggregatedFeature] = Nil,
    eventTimestamp: Option[EventTimestamp] = None,
    /** source column → contract column renames (batch_data_source.py:1460). */
    mappingKeys: Map[String, String] = Map.empty,
    materializedSource: Option[graft.sources.BatchSource] = None,
    description: Option[String] = None,
    /** freshness SLOs (feature_view.py:84-85): data older than `acceptable`
      * marks the view stale (schedule an update); older than `unacceptable`
      * marks it unhealthy (alert / fail closed). */
    acceptableFreshness: Option[java.time.Duration] = None,
    unacceptableFreshness: Option[java.time.Duration] = None) {

  def allFeatureNames: Seq[String] =
    entities.map(_.name) ++ features.map(_.name) ++ derived.map(_.name) ++
      aggregates.map(_.name) ++ eventTimestamp.map(_.name).toSeq

  /** The contract chain every read, lookup, stream batch and SQL write of
    * this view runs (FileFullJob, local/job.py:218-292; the stream worker,
    * worker.py:172-204), as narrow projections over `df`: rename source
    * columns to contract names → fill missing declared columns → ensure
    * types → derive in topological rounds. No aggregates. */
  def conform(df: DataFrame): DataFrame = {
    val declared = entities ++ features
    // rename source columns to contract names (ColumnFeatureMappable, local/job.py:259-271)
    val renamed = mappingKeys.foldLeft(df) { case (acc, (from, to)) =>
      if (acc.columns.contains(from)) acc.withColumnRenamed(from, to) else acc
    }
    // fill missing optional columns with defaults/null (FillMissingColumnsJob,
    // retrieval_job.py:2488-2538)
    val filled = declared.foldLeft(renamed) { (acc, f) =>
      if (acc.columns.contains(f.name)) acc
      else acc.withColumn(f.name, lit(f.defaultValue.orNull).cast(f.dtype.sparkType))
    }
    // ensure-types: cast ONLY on mismatch (EnsureTypesJob, retrieval_job.py:2866-2955);
    // string-encoded arrays/structs are JSON-decoded, not cast
    // (retrieval_job.py:2928-2941). "Enforced by casting, not rejection"
    // (strict=False, SURVEY §1.3): try_cast nulls malformed values instead of
    // failing the job under ANSI
    val actual = filled.schema.fields.map(f => f.name -> f.dataType).toMap
    val typed = declared.foldLeft(filled) { (acc, f) =>
      val t = f.dtype.sparkType
      actual.get(f.name) match {
        case Some(a) if a == t => acc
        case Some(StringType) if t.isInstanceOf[ArrayType] || t.isInstanceOf[StructType] =>
          acc.withColumn(f.name, from_json(col(f.name), t))
        case Some(_) => acc.withColumn(f.name, col(f.name).try_cast(t.sql))
        case None => acc
      }
    }
    // derived features in topological rounds (retrieval_job.py:2345-2388);
    // skip any already present in the source (Transformation.should_skip)
    FeatureView.derivedRounds(derived, s"view '$name'").foldLeft(typed) { (acc, round) =>
      val todo = round.filterNot(d => acc.columns.contains(d.name))
      if (todo.isEmpty) acc else acc.withColumns(todo.map(d => d.name -> d.column).toMap)
    }
  }
}

object FeatureView {
  /** Derived features batched topologically (retrieval_request.py:204-231):
    * each round only references base columns or columns produced by earlier
    * rounds. Computed from the dependency graph — the `depth` field is a
    * hint, not trusted. Throws on cycles / unknown dependencies among the
    * derived features; `owner` names them in the message. */
  def derivedRounds(derived: Seq[DerivedFeature], owner: String): Seq[Seq[DerivedFeature]] = {
    val derivedNames = derived.map(_.name).toSet
    var remaining = derived
    var emitted = Set.empty[String]
    val rounds = Seq.newBuilder[Seq[DerivedFeature]]
    while (remaining.nonEmpty) {
      val (ready, blocked) = remaining.partition(
        _.dependingOn.filter(derivedNames.contains).forall(emitted.contains))
      if (ready.isEmpty)
        throw new IllegalStateException(
          s"cyclic or unresolvable derived features in $owner: ${blocked.map(_.name).mkString(", ")}")
      rounds += ready
      emitted ++= ready.map(_.name)
      remaining = blocked
    }
    rounds.result()
  }
}

/** Model contract (reference: schemas/model.py:373, compiler/model.py): input
  * feature references + an output (prediction) view + an exposed model. */
final case class ModelContract(
    name: String,
    inputFeatures: Seq[String], // "view:feature" refs
    predictionView: Option[FeatureView] = None,
    model: Option[graft.ml.ExposedModel] = None,
    description: Option[String] = None)
