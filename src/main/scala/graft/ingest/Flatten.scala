package graft.ingest

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StructType}

/** The signature operator: flatten nested repeated groups into
  * denormalized rows (SURVEY.md §2.4).
  *
  * Reference semantics (fileloader/fileloader-schema.go:297-363 JSON,
  * :377-510 XML), reproduced exactly:
  *   - one repeated group with k ≥ 1 elements → k rows, each = base ∪
  *     element; element fields OVERWRITE base fields on name collision
  *     (:332-339 nested-after-base copy);
  *   - k = 0 (or null) for every repeated group → 1 row of base fields
  *     unchanged (:113-116, :477-480);
  *   - multiple distinct repeated keys → UNION of per-array expansions,
  *     NOT a cross product (:316-344).
  *
  * Spark-first: one generator pass over each record, like the
  * reference's single read. Every array's elements are `transform`ed into
  * rows of the full output schema (element field, else base column, else
  * a typed null), the arrays are `concat`enated, a record whose arrays
  * are all empty gets its base row instead, and ONE `explode` emits the
  * rows in record order. The plan scans the source once and has no
  * `Union`. The output columns are the union-by-name of the per-array
  * expansions: each expansion's unshadowed base columns, then its element
  * fields, first appearance wins. Spark's type widening of the `concat`
  * gives each column the type and nullability that union would.
  */
object Flatten {

  def apply(df: DataFrame): DataFrame = {
    val arrayFields = df.schema.fields.filter(_.dataType.isInstanceOf[ArrayType])
    if (arrayFields.isEmpty) return df
    val arrayNames = arrayFields.map(_.name).toSet
    val baseCols = df.schema.fieldNames.filterNot(arrayNames.contains).toSeq

    // per array: the columns its elements write (a primitive element
    // writes the array's own name) and whether the element is a struct
    val arrays = arrayFields.toSeq.map { f =>
      f.dataType.asInstanceOf[ArrayType].elementType match {
        case st: StructType => (f.name, st.fieldNames.toSeq, true)
        case _ => (f.name, Seq(f.name), false)
      }
    }
    val out = (arrays.flatMap { case (_, own, _) =>
      baseCols.filterNot(own.contains) ++ own } ++ baseCols).distinct

    def baseValue(c: String): Column = if (baseCols.contains(c)) col(c) else lit(null)
    def row(value: String => Column): Column = struct(out.map(c => value(c).as(c)): _*)

    val expansions = arrays.map { case (name, own, isStruct) =>
      coalesce(transform(col(name), x => row { c =>
        if (!own.contains(c)) baseValue(c) else if (isStruct) x.getField(c) else x
      }), array())
    }
    val allEmpty = arrayFields.map(f => coalesce(size(col(f.name)), lit(0)) <= 0)
      .reduce(_ && _)
    df.select(explode(when(allEmpty, array(row(baseValue)))
      .otherwise(concat(expansions: _*))).as("_r"))
      .select("_r.*")
  }
}
