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
  * reference's single read. The arrays' rows are numbered in field
  * order: array j owns the indices from the sum of the sizes before it
  * (a null array has size 0). ONE `explode` of `sequence(0, n - 1)`
  * emits an index per output row, n being the sum of all sizes, or 1
  * for the base row of a record whose arrays are all empty. Each output
  * column is then a `CASE` on the index: inside array j's range, j's
  * element field (a primitive element is the array's own column), else
  * the base column, else null. The guard keeps every element index in
  * range. The plan scans the source once, has no `Union` and no lambda,
  * so scan, generator and projection compile into one whole-stage-codegen
  * stage. The output columns are the union-by-name of the per-array
  * expansions: each expansion's unshadowed base columns, then its element
  * fields, first appearance wins; the `CASE` gives each column the type
  * and nullability that union would.
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

    // array j's rows are the indices [starts(j), starts(j + 1))
    val starts = arrays.scanLeft(lit(0)) { case (start, (name, _, _)) =>
      start + greatest(coalesce(size(col(name)), lit(0)), lit(0))
    }
    val idxName = Iterator.iterate("_i")("_" + _)
      .find(n => !df.columns.exists(_.equalsIgnoreCase(n))).get
    val idx = col(idxName)

    def baseValue(c: String): Column = if (baseCols.contains(c)) col(c) else lit(null)
    def value(c: String): Column = {
      val branches = arrays.indices.filter(j => arrays(j)._2.contains(c)).map { j =>
        val (name, _, isStruct) = arrays(j)
        val elem = col(name).getItem(idx - starts(j))
        (idx >= starts(j) && idx < starts(j + 1), if (isStruct) elem.getField(c) else elem)
      }
      if (branches.isEmpty) baseValue(c)
      else branches.tail.foldLeft(when(branches.head._1, branches.head._2)) {
        case (cases, (inRange, v)) => cases.when(inRange, v)
      }.otherwise(baseValue(c))
    }
    df.select(col("*"), explode(sequence(lit(0), greatest(starts.last, lit(1)) - 1)).as(idxName))
      .select(out.map(c => value(c).as(c)): _*)
  }
}
