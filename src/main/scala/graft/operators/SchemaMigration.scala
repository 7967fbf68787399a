package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Schema evolution: align an old-schema snapshot with a new-schema batch,
  * null-filling columns the old data lacks and widening compatible types —
  * the semantics of the reference's `SchemaMigrationProcessor`
  * (/root/reference/src/main/scala/main.scala:114).
  *
  * The target schema is the union of both schemas; the new side's type wins
  * wherever both define a column (migration moves forward). Pure
  * projections + unionByName: no shuffle at all, so migration cost at
  * 100 TB is a metadata-only rewrite plan.
  */
object SchemaMigration {

  /** The union schema: old columns first (original order) with the new
    * side's type wherever both define a column, then new-only columns.
    */
  def unionSchema(oldSchema: StructType, newSchema: StructType): StructType = {
    val newTypes = newSchema.map(f => f.name -> f.dataType).toMap
    val oldNames = oldSchema.fieldNames.toSet
    StructType(
      oldSchema.map(f => StructField(f.name, newTypes.getOrElse(f.name, f.dataType))) ++
        newSchema.collect { case f if !oldNames.contains(f.name) => StructField(f.name, f.dataType) })
  }

  /** Project `df` onto `schema`: same-typed columns pass through, others
    * are cast, missing ones null-filled; columns outside `schema` drop.
    */
  def alignTo(df: DataFrame, schema: StructType): DataFrame = {
    val have = df.schema.map(f => f.name -> f.dataType).toMap
    val cols: Seq[Column] = schema.map { f =>
      have.get(f.name) match {
        case Some(cur) if cur == f.dataType => df.col(f.name)
        case Some(_)                        => df.col(f.name).cast(f.dataType).as(f.name)
        case None                           => lit(null).cast(f.dataType).as(f.name)
      }
    }
    df.select(cols: _*)
  }

  /** Align both frames to the union schema WITHOUT combining rows. */
  def alignPair(oldDf: DataFrame, newDf: DataFrame): (DataFrame, DataFrame) = {
    val union = unionSchema(oldDf.schema, newDf.schema)
    (alignTo(oldDf, union), alignTo(newDf, union))
  }

  def migrate(oldDf: DataFrame, newDf: DataFrame): DataFrame = {
    val (o, n) = alignPair(oldDf, newDf)
    o.unionByName(n)
  }
}
