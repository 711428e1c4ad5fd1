package graft.run

import graft.dsl._
import graft.compile.SchemaCompiler
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Result of validating a Dataset against a [[SchemaSpec]] — the table-scope
  * counterpart of the reference's per-record changeset (reference:
  * lib/changeset.ex). All three views derive lazily from one annotated plan;
  * Catalyst prunes whichever columns a given view doesn't read.
  */
final case class ValidationResult(
    spec: SchemaSpec,
    /** input rows + coerced field values + `violations` array + `valid` flag */
    annotated: DataFrame) {

  /** E2 `new/2`: coerced record values applied regardless of validity. */
  def coerced: DataFrame = {
    val cols = spec.keyColumns.filterNot(k => spec.allFields.exists(_.name == k))
      .map(k => annotated(k)) ++
      (spec.allFields.map(_.name) ++ spec.embeds.map(_.name)).map(n => annotated(n))
    annotated.select(cols: _*)
  }

  /** north_star violation rows: (keys..., constraint_id, reason). */
  def violations: DataFrame =
    annotated
      .select(spec.keyColumns.map(annotated(_)) :+
        explode(annotated("violations")).as("v"): _*)
      .select(spec.keyColumns.map(col) :+
        col("v.constraint_id").as("constraint_id") :+ col("v.reason").as("reason"): _*)

  /** Rows that passed every constraint. */
  def validRows: DataFrame = annotated.filter(annotated("valid")).drop("violations", "valid")

  /** N3: per-partition pass/fail summary via partial+final hash aggregate. */
  def partitionSummary: DataFrame =
    annotated
      .groupBy(spark_partition_id().as("partition_id"))
      .agg(
        count(lit(1)).as("rows"),
        sum(when(col("valid"), 1L).otherwise(0L)).as("valid_rows"),
        sum(when(!col("valid"), 1L).otherwise(0L)).as("invalid_rows"),
        sum(size(col("violations")).cast(LongType)).as("violations"))

  /** Pass/fail summary grouped by arbitrary columns (oracle-checkable flavor
    * of N3 — partition ids are engine-specific, group keys are not). */
  def summaryBy(groupCols: String*): DataFrame =
    annotated
      .groupBy(groupCols.map(col): _*)
      .agg(
        count(lit(1)).as("rows"),
        sum(when(col("valid"), 1L).otherwise(0L)).as("valid_rows"),
        sum(when(!col("valid"), 1L).otherwise(0L)).as("invalid_rows"),
        sum(size(col("violations")).cast(LongType)).as("violations"))

  /** E3 `new!/2`: throw when any row fails, with the reference's raise text —
    * the struct rendered with error-message LISTS merged over the field values
    * (`%Character{type: ["Expected elf or human, got: orc"], age: 10}`;
    * reference: lib/schema.ex:441-456 — traverse_errors interpolates
    * `%{placeholder}`s, which graft's reason columns already bake in).
    * One struct per failing row, up to `sample` rows. */
  def orThrow(sample: Int = 5): DataFrame = {
    val bad = annotated.filter(!annotated("valid")).limit(sample).collect()
    if (bad.nonEmpty) {
      def inspect(v: Any): String = v match {
        case null      => "nil"
        case s: String => "\"" + s + "\""
        case other     => other.toString
      }
      val names = spec.allFields.map(_.name) ++ spec.embeds.map(_.name)
      val structs = bad.map { row =>
        val vs = row.getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("violations")
        val parts = names.map { f =>
          // embeds_many constraint ids are "name[idx].field.kind" — match both
          val errs = vs.filter(v => v.getString(0).startsWith(s"$f.") ||
            v.getString(0).startsWith(s"$f[")).map(_.getString(1))
          if (errs.nonEmpty) s"$f: [${errs.map(e => "\"" + e + "\"").mkString(", ")}]"
          else s"$f: ${inspect(row.getAs[Any](f))}"
        }
        s"%${spec.name}{${parts.mkString(", ")}}"
      }
      throw new IllegalArgumentException(structs.mkString("\n"))
    }
    coerced
  }
}

object Validator {

  /** E1 `changeset/3` lifted to a whole Dataset: single narrow pass, no shuffle. */
  def validate(spec: SchemaSpec, df: DataFrame, bindings: Map[String, Any] = Map.empty): ValidationResult = {
    val (values, violArr) = SchemaCompiler.compile(spec, df, bindings)
    val fieldNames = (spec.allFields.map(_.name) ++ spec.embeds.map(_.name)).toSet
    // a key column that is also a declared field is represented by its coerced
    // field column — avoids a duplicate (ambiguous) attribute in `annotated`
    val keyCols = spec.keyColumns.filterNot(fieldNames).map(k => df(k).as(k))
    val valueCols = (spec.allFields.map(_.name) ++ spec.embeds.map(_.name)).map(n => values(n).as(n))
    val passthrough = df.columns
      .filterNot(c => spec.keyColumns.contains(c))
      .filterNot(c => spec.allFields.exists(f => f.name == c || f.input == c))
      .filterNot(c => spec.embeds.exists(e => e.name == c || e.input == c))
      .toSeq.map(c => df(c).as(c))
    val annotated = df.select(
      keyCols ++ valueCols ++ passthrough :+
        violArr.as("violations") :+
        (size(violArr) === 0).as("valid"): _*)
    ValidationResult(spec, annotated)
  }

  /** E4/P3/P4 dump: serialized projection applying each type's dumpExpr and the
    * JSON options (name:, ignore:) as column renames/drops — RECURSING into
    * embeds: nested fields are dumped/renamed inside their struct, embeds_many
    * maps over elements (reference: lib/flint/extensions/json.ex:120-169,
    * encode_embedded at :162-169). Embeds themselves are always serialized
    * (the `key in embeds` branch precedes ignore/omitempty in the reference). */
  def dump(spec: SchemaSpec, coerced: DataFrame): DataFrame = {
    def dumpStruct(s: SchemaSpec, get: String => Column): Column = {
      val fieldCols = s.allFields.filterNot(f => f.ignore || f.virtual).map { f =>
        f.ftype.dumpExpr(get(f.name)).as(f.jsonName.getOrElse(f.name))
      }
      val embedCols = s.embeds.map(e => dumpEmbed(e, get(e.name)).as(e.jsonKey))
      struct(fieldCols ++ embedCols: _*)
    }
    def dumpEmbed(e: EmbedSpec, c: Column): Column =
      if (e.many) transform(c, x => dumpStruct(e.schema, n => x.getField(n)))
      else when(c.isNull, lit(null)).otherwise(dumpStruct(e.schema, n => c.getField(n)))
    val cols = spec.keyColumns.filterNot(k => spec.allFields.exists(_.name == k))
      .map(k => coerced(k)) ++
      spec.allFields.filterNot(f => f.ignore || f.virtual).map { f =>
        f.ftype.dumpExpr(coerced(f.name)).as(f.jsonName.getOrElse(f.name))
      } ++
      spec.embeds.map(e => dumpEmbed(e, coerced(e.name)).as(e.jsonKey))
    coerced.select(cols: _*)
  }

  /** P4 exact-JSON dump: one JSON string per row with deterministic key order,
    * honoring name:/omitempty:/ignore: — recursively through embeds_one
    * (nested object) and embeds_many (array of objects). Null handling is
    * explicit — only omitempty fields drop when null (Spark's to_json can't
    * express that mix).
    */
  def dumpJson(spec: SchemaSpec, coerced: DataFrame): DataFrame = {
    // dispatch on the UNDERLYING type so FCustom wrappers serialize like the
    // type they extend (a custom dump override is opaque => quoted string)
    def scalarJson(c: Column, t: FType): Column = {
      val dumped = t.dumpExpr(c)
      def quoted(d: Column): Column =
        concat(lit("\""), jsonEscape(d.cast(StringType)), lit("\""))
      (t match { case FCustom(_, _, _, Some(_), _) => t; case _ => FType.underlying(t) }) match {
        case FInteger | FFloat | FBoolean => dumped.cast(StringType)
        case u: FUnion =>
          // JSON value follows the TAKEN branch's dump type (reference:
          // union embed_as :dump + JSON encode — a float branch serializes
          // as a number, an array branch as a JSON array, strings quoted)
          coalesce(u.branches.zipWithIndex.map { case (b, i) =>
            val d = b.dumpExpr(c.getField(s"b$i"))
            FType.underlying(b) match {
              case FInteger | FFloat | FBoolean => d.cast(StringType)
              case _: FArray | _: FMap          => to_json(d)
              case _                            => quoted(d)
            }
          }: _*)
        case _ => quoted(dumped)
      }
    }
    def objJson(s: SchemaSpec, get: String => Column): Column = {
      val fieldFrags: Seq[Column] = s.allFields.filterNot(f => f.ignore || f.virtual).map { f =>
        val key = f.jsonName.getOrElse(f.name)
        val c = get(f.name)
        val kv = concat(lit("\"" + key + "\":"),
          when(c.isNull, lit("null")).otherwise(scalarJson(c, f.ftype)))
        if (f.omitEmpty) when(c.isNull, lit(null)).otherwise(kv) else kv
      }
      val embedFrags: Seq[Column] = s.embeds.map { e =>
        val c = get(e.name)
        val inner =
          if (e.many) concat(lit("["),
            concat_ws(",", transform(c, x => objJson(e.schema, n => x.getField(n)))),
            lit("]"))
          else objJson(e.schema, n => c.getField(n))
        concat(lit("\"" + e.jsonKey + "\":"),
          when(c.isNull, lit("null")).otherwise(inner))
      }
      // concat_ws skips nulls => omitted omitempty fields leave no dangling comma
      concat(lit("{"), concat_ws(",", fieldFrags ++ embedFrags: _*), lit("}"))
    }
    coerced.select(spec.keyColumns.map(coerced(_)) :+
      objJson(spec, coerced(_)).as("json"): _*)
  }

  private def jsonEscape(c: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(c, lit("\\\\"), lit("\\\\\\\\")),
        lit("\""), lit("\\\\\"")),
      lit("\n"), lit("\\\\n"))
}
