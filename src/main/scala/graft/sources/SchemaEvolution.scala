package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.{StructField, StructType}

/** Sink-side automatic schema evolution — the reference enables
  * `auto.create.tables` / `auto.evolve.tables` on its sink connector
  * (reference `setup.sh:134-135`): when the source grows a column, the
  * sink table is ALTERed and old rows read as NULL.
  *
  * Spark mapping: schemas are `StructType`s; evolution = the columns to
  * ADD to the sink (`missingColumns`, typed by [[TypeMap]]) plus `conform`,
  * which widens any batch to the evolved schema with NULL back-fill — the
  * same result `spark.read.option("mergeSchema", true)` produces across
  * parquet files with drifting schemas. Evolution here is additive-only,
  * exactly like the reference (drops/renames are not propagated).
  */
object SchemaEvolution {

  /** Fields present in `incoming` but absent from `target` (by name). */
  def missingColumns(target: StructType, incoming: StructType): Seq[StructField] =
    incoming.fields.toSeq.filterNot(f => target.fieldNames.contains(f.name))

  /** Evolved sink schema: target plus whatever incoming added. */
  def evolve(target: StructType, incoming: StructType): StructType =
    StructType(target.fields.toSeq ++ missingColumns(target, incoming))

  /** Widen a batch to `evolved`, NULL-filling columns it doesn't have and
    * keeping the evolved column order (so unionByName across batch
    * generations is positionally safe).
    */
  def conform(df: DataFrame, evolved: StructType): DataFrame =
    df.select(evolved.fields.toSeq.map { f =>
      if (df.columns.contains(f.name)) col(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }: _*)
}
