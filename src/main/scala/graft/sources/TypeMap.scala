package graft.sources

import org.apache.spark.sql.types._

/** Schema introspection + type mapping + DDL synthesis.
  *
  * Re-expresses the reference's schema-sync path (reference `setup.sh:27-72`):
  * a Postgres→ClickHouse type lattice (`setup.sh:40-49`), primary-key choice
  * (`user_id` if present else first column, `setup.sh:54-59`), and a
  * `CREATE TABLE ... ReplacingMergeTree` renderer (`setup.sh:60-65`,
  * golden output at reference `README.md:108`).
  *
  * Spark mapping: driver-only module — `df.schema: StructType` is our
  * information_schema; IR is StructType in, DDL string out. No executor
  * involvement, so this costs nothing at 100 TB.
  */
object TypeMap {

  /** Postgres `information_schema.columns.data_type` → ClickHouse type.
    * Faithful to the CASE at reference `setup.sh:40-49`, including the
    * documented lossy `String` fallback (`setup.sh:48`).
    */
  def pgToClickHouse(dataType: String): String = dataType match {
    case "integer"                     => "UInt32"
    case "bigint"                      => "UInt64"
    case "numeric"                     => "Decimal(18,2)"
    case "text"                        => "String"
    case "character varying"           => "String"
    case "timestamp without time zone" => "DateTime64(6)"
    case "uuid"                        => "UUID"
    case _                             => "String"
  }

  /** Spark type → ClickHouse type, for DDL synthesis from a live
    * `df.schema` (the Spark-native analogue of the reference's
    * information_schema introspection at `setup.sh:36-53`).
    */
  def sparkToClickHouse(dt: DataType): String = dt match {
    case IntegerType         => "Int32"
    case LongType            => "Int64"
    case ShortType           => "Int16"
    case ByteType            => "Int8"
    case FloatType           => "Float32"
    case DoubleType          => "Float64"
    case BooleanType         => "UInt8"
    case DateType            => "Date32"
    case TimestampNTZType    => "DateTime64(6)"
    case TimestampType       => "DateTime64(6)"
    case d: DecimalType      => s"Decimal(${d.precision},${d.scale})"
    case ArrayType(et, _)    => s"Array(${sparkToClickHouse(et)})"
    case _                   => "String"
  }

  /** Primary key choice per reference `setup.sh:54-59`: `user_id` when the
    * table has it, otherwise the first column.
    */
  def primaryKey(columns: Seq[String]): String =
    columns.find(_ == "user_id").getOrElse(columns.head)

  /** Render the sink DDL from (column, postgres-type) pairs — the Spark-side
    * rewrite of the string_agg projection at reference `setup.sh:60-65`.
    * Golden expected output: reference `README.md:108`.
    */
  def renderDdl(schema: String, table: String, cols: Seq[(String, String)]): String = {
    val colDefs = cols.map { case (n, t) => s"$n ${pgToClickHouse(t)}" }.mkString(", ")
    s"CREATE TABLE IF NOT EXISTS $schema.$table ($colDefs) " +
      s"ENGINE = ReplacingMergeTree() ORDER BY ${primaryKey(cols.map(_._1))};"
  }

  /** Same renderer from a live Spark schema. */
  def renderDdlFromSpark(schema: String, table: String, st: StructType): String = {
    val colDefs = st.fields.map(f => s"${f.name} ${sparkToClickHouse(f.dataType)}").mkString(", ")
    s"CREATE TABLE IF NOT EXISTS $schema.$table ($colDefs) " +
      s"ENGINE = ReplacingMergeTree() ORDER BY ${primaryKey(st.fieldNames.toSeq)};"
  }
}
