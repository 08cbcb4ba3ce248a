package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.types.StructType

/** `StructType` members Spark keeps `private[sql]`/`private[spark]`,
  * re-exported for reads that build the relation `DataSource` would. */
object SchemaBridge {

  /** Spark's parquet schema merge: the rule `mergeSchema` folds footers
    * with (`SchemaMergeUtils.mergeSchemasInParallel`). */
  def merge(left: StructType, right: StructType,
            caseSensitive: Boolean): StructType =
    left.merge(right, caseSensitive)

  /** `schema` with every field nullable, as `DataSource` types a file
    * relation's data schema. */
  def asNullable(schema: StructType): StructType = schema.asNullable
}
