package graft.compile

import graft.dsl._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Compiles a [[SchemaSpec]] into Catalyst `Column` trees: one pass per
  * partition, no shuffle, no UDFs — every rule class lands inside whole-stage
  * codegen. The per-row result is (coerced values, violations array), the
  * columnar equivalent of the reference's `Ecto.Changeset`
  * (reference: lib/changeset.ex:15-69).
  *
  * Pipeline order matches the reference's extension fold
  * (reference: lib/flint.ex:13-23, lib/changeset.ex:46-50):
  *   cast -> required -> Block -> derive -> when -> validators -> map
  * (note Block runs BEFORE derive in 0.6.0 — preserved quirk, SURVEY §3).
  */
object SchemaCompiler {

  val ViolStruct: DataType = Viols.ViolStruct

  private def emptyViols: Column = Viols.empty

  private def entryArr(fire: Column, cid: Column, reason: Column): Column =
    Viols.entryArr(fire, cid, reason)

  /** Resolve a raw input column + its Spark type; None type == column absent. */
  type Resolver = String => (Column, Option[DataType])

  def resolverFor(df: DataFrame): Resolver = { name =>
    df.schema.fields.find(_.name == name) match {
      case Some(f) => (df(f.name), Some(f.dataType))
      case None    => (lit(null), None)
    }
  }

  private def resolverForStruct(c: Column, st: StructType): Resolver = { name =>
    st.fields.find(_.name == name) match {
      case Some(f) => (c.getField(f.name), Some(f.dataType))
      case None    => (lit(null), None)
    }
  }

  /** A scalar violation trigger (moved to graft.dsl so user [[RulePack]]s can
    * emit them); aliased here for source compatibility. */
  type Trigger = graft.dsl.Trigger
  val Trigger = graft.dsl.Trigger

  /** Core recursive compile over one record scope (top-level row or embedded
    * struct). Returns final values for all fields + scalar violation triggers
    * + violation-array columns (blocks, embeds_many elements).
    *
    * @param prefix constraint-id prefix ("", "author.", dynamic for embeds_many)
    * @param parentValues parent-record fields visible as bindings in child rules
    *                     (reference: lib/changeset.ex:52-58 `bindings ++ to_bindings`)
    */
  def compileScope(
      spec: SchemaSpec,
      resolve: Resolver,
      bindings: Map[String, Any],
      prefix: Column,
      parentValues: Map[String, Column]): (Map[String, Column], Seq[Trigger], Seq[Column]) = {

    val allBindings = bindings ++ parentValues

    // ---- stage 1+2: cast + default + required/cast violations -------------
    case class CastOut(value: Column, inChanges: Column, viols: Seq[Trigger])
    val casted: Seq[(FieldSpec, CastOut)] = spec.allFields.map { f =>
      val (raw, inTypeOpt) = resolve(f.input)
      if (f.virtual) {
        // C5: passthrough untouched, no rules
        (f, CastOut(raw, lit(false), Nil))
      } else {
        val present = inTypeOpt match {
          case Some(_: StringType) => raw.isNotNull && (raw =!= lit("")) // Ecto empty_values [""]
          case Some(_)             => raw.isNotNull
          case None                => lit(false)
        }
        val castedRaw = inTypeOpt match {
          case Some(t) => f.ftype.castExpr(raw, t)
          case None    => lit(null).cast(f.ftype.sparkType)
        }
        val castedVal = when(present, castedRaw)
        val inChanges = present && castedVal.isNotNull
        val withDefault = f.default match {
          case Some(d) => coalesce(castedVal, lit(d).cast(f.ftype.sparkType))
          case None    => castedVal
        }
        val castFailed = present && castedVal.isNull
        val castViol = Trigger(
          castFailed,
          concat(prefix, lit(s"${f.name}.cast")), lit("is invalid"))
        // Ecto's validate_required skips fields that already carry an error
        // (is_nil(errors[field]) guard), so a failed cast yields ONLY
        // "is invalid" — never both (reference: lib/changeset.ex:45).
        val reqViol =
          if (!f.required) Nil
          else Seq(Trigger(withDefault.isNull && !castFailed,
            concat(prefix, lit(s"${f.name}.required")), lit("can't be blank")))
        (f, CastOut(withDefault, inChanges, castViol +: reqViol))
      }
    }

    var values: Map[String, Column] = casted.map { case (f, c) => f.name -> c.value }.toMap
    var triggers: Seq[Trigger] = casted.flatMap(_._2.viols)
    var viols: Seq[Column] = Nil

    def ctx: Ctx = Ctx(values, allBindings)

    // ---- stages 3..N: the rule-pack pipeline --------------------------------
    // Built-ins (block -> derive -> when -> validators -> map, the reference's
    // 0.6.0 fold order incl. the Block-before-derive quirk, SURVEY §3) plus any
    // user-registered packs, each in SchemaSpec.packs declaration order. A
    // pack's value rewrites land AFTER its whole field sweep (every field of
    // one stage sees the same pre-stage snapshot via `ctx`, matching the
    // reference's per-extension changeset fold).
    for (pack <- spec.enabledPacks) {
      var newValues = values
      for ((f, c) <- casted) {
        val res = pack(spec, f, RulePack.FieldState(values(f.name), c.inChanges), ctx, prefix)
        triggers = triggers ++ res.triggers
        viols = viols ++ res.violArrays
        res.newValue.foreach(v => newValues = newValues + (f.name -> v))
      }
      values = newValues
    }

    // ---- embeds (C4): recurse ----------------------------------------------
    for (e <- spec.embeds) {
      // inline do-block embeds inherit the parent's extension packs AND
      // only/except filters (they are defined inside the parent module,
      // reference: lib/schema.ex:369-387); module embeds keep their own.
      // Packs inherit only when the embed kept the defaults — an embed that
      // registered its own pipeline is explicit and wins. Identity (eq), not
      // ==: an embed author listing the five built-ins BY HAND to opt out of
      // the parent's custom packs would be value-equal to RulePack.defaults
      // and silently inherit anyway.
      val childSchema =
        if (e.inline && e.schema.only.isEmpty && e.schema.except.isEmpty)
          e.schema.copy(only = spec.only, except = spec.except,
            packs = if (e.schema.packs eq RulePack.defaults) spec.packs else e.schema.packs)
        else e.schema
      val (raw, tOpt) = resolve(e.input)
      tOpt match {
        case Some(st: StructType) if !e.many =>
          val childResolve = resolverForStruct(raw, st)
          val (childValues, childTriggers, childViols) = compileScope(
            childSchema, childResolve, bindings,
            concat(prefix, lit(s"${e.name}.")), values)
          val childStruct = struct(e.schema.fields.map(f => childValues(f.name).as(f.name)): _*)
          // embeds_one defaults_to_struct: missing non-required embed => struct of nulls
          val materialized =
            if (e.required) when(raw.isNotNull, childStruct)
            else coalesce(when(raw.isNotNull, childStruct),
              struct(e.schema.fields.map(f => lit(null).cast(f.ftype.sparkType).as(f.name)): _*))
          values = values + (e.name -> materialized)
          triggers = triggers ++ childTriggers.map(t => t.copy(fire = raw.isNotNull && t.fire))
          viols = viols ++ childViols.map(v => when(raw.isNotNull, v).otherwise(emptyViols))
          if (e.required)
            triggers = triggers :+ Trigger(raw.isNull,
              concat(prefix, lit(s"${e.name}.required")), lit("can't be blank"))

        case Some(ArrayType(st: StructType, _)) if e.many =>
          // per-element recursion via transform with index; element index is
          // baked into the constraint id: name[i].field.kind
          val parentVals = values
          val perElem = transform(raw, (x, i) => {
            val childResolve = resolverForStruct(x, st)
            val elemPrefix = concat(prefix, lit(s"${e.name}["), i.cast(StringType), lit("]."))
            val (childValues, childTriggers, childViols) =
              compileScope(childSchema, childResolve, bindings, elemPrefix, parentVals)
            val elemViols = childTriggers.map(t => entryArr(t.fire, t.cid, t.reason)) ++ childViols
            struct(
              struct(e.schema.fields.map(f => childValues(f.name).as(f.name)): _*).as("value"),
              (if (elemViols.isEmpty) emptyViols else concat(elemViols: _*)).as("viols"))
          })
          val coercedArr = transform(perElem, x => x.getField("value"))
          // embeds_many always defaults to [] (reference: lib/schema.ex:21-22)
          values = values + (e.name -> coalesce(coercedArr,
            array().cast(ArrayType(StructType(
              e.schema.fields.map(f => StructField(f.name, f.ftype.sparkType)))))))
          viols = viols :+ coalesce(flatten(transform(perElem, x => x.getField("viols"))), emptyViols)
          if (e.required)
            viols = viols :+ entryArr(raw.isNull,
              concat(prefix, lit(s"${e.name}.required")), lit("can't be blank"))

        case _ =>
          // absent embed column
          if (e.required)
            triggers = triggers :+ Trigger(lit(true),
              concat(prefix, lit(s"${e.name}.required")), lit("can't be blank"))
          else if (!e.many)
            values = values + (e.name -> struct(
              e.schema.fields.map(f => lit(null).cast(f.ftype.sparkType).as(f.name)): _*))
          else
            values = values + (e.name -> array().cast(ArrayType(StructType(
              e.schema.fields.map(f => StructField(f.name, f.ftype.sparkType))))))
      }
    }

    (values, triggers, viols)
  }

  /** The schema compiled once over `df`: the coerced (cast + default +
    * derive + map) values keyed by field name, and all violations of a row
    * as one array<struct<constraint_id,reason>> column.
    *
    * Hot-path shape: all scalar triggers are OR'd into one boolean first, and
    * the per-trigger arrays are only built when some trigger fires — a valid
    * row (the overwhelming majority at scale) allocates NOTHING beyond the
    * shared empty-array constant. */
  def compile(spec: SchemaSpec, df: DataFrame,
      extraBindings: Map[String, Any] = Map.empty): (Map[String, Column], Column) = {
    val (values, triggers, viols) =
      compileScope(spec, resolverFor(df), spec.bindings ++ extraBindings, lit(""), Map.empty)
    val scalarPart =
      if (triggers.isEmpty) None
      else {
        val anyFire = triggers.map(t => coalesce(t.fire, lit(false))).reduce(_ || _)
        Some(when(anyFire, concat(triggers.map(t => entryArr(t.fire, t.cid, t.reason)): _*))
          .otherwise(emptyViols))
      }
    val parts = scalarPart.toSeq ++ viols
    (values, if (parts.isEmpty) emptyViols else if (parts.size == 1) parts.head else concat(parts: _*))
  }
}
