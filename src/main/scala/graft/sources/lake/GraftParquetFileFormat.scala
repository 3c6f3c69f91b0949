package graft.sources.lake

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.FileSourceConstantMetadataStructField
import org.apache.spark.sql.execution.datasources.PartitionedFile
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.sources
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/**
 * [[ParquetFileFormat]] plus two lake-specific behaviors:
 *
 * 1. ONE extra file-constant metadata column, `_metadata.__dv_path`:
 * the absolute deletion-vector sidecar path of the file being scanned,
 * or NULL for a file with no deletions.
 *
 * This is the 100 TB-shape for DV descriptors (Delta's): the
 * basename → sidecar mapping rides the FileIndex's PER-FILE metadata
 * ([[LakeFileIndex.listFiles]] attaches it to each
 * `FileStatusWithMetadata`), flows through `PartitionedFile
 * .otherConstantMetadataColumnValues`, and materializes per scanned
 * file like `_metadata.file_name` does. A task therefore carries only
 * ITS OWN split's descriptors, and the plan carries none — versus the
 * previous plan-level map in the [[DvDeleted]] reference object, which
 * serialized the WHOLE table's descriptors into the one taskBinary
 * broadcast per stage (measured in r12: 126 MB / ~2.4 s at 10⁶ DV
 * files). With per-file descriptors the ceiling is gone:
 * descriptor bytes scale with files-per-task, invariant in table size.
 *
 * 2. Column mapping for renamed id-less fields
 * ([[GraftLake.PhysicalNameKey]], the Delta column-mapping shape):
 * `logicalToPhysical` renames the schemas and pushed filters handed to
 * the parquet reader from the table's LOGICAL names to the frozen
 * file-side PHYSICAL names. Row batches are positional, so nothing
 * translates back — the scan's output attributes keep their logical
 * names while every byte-level concern (name-keyed column resolution
 * for id-less files, row-group stats/dictionary/bloom pushdown) sees
 * the names the files actually carry. Empty map (any table with no
 * renamed id-less columns) = delegate untouched.
 *
 * Everything else — footer pruning, pushed filters, vectorized read,
 * whole-stage codegen of the position predicate — is inherited
 * unchanged from the parquet format.
 */
final class GraftParquetFileFormat(
    private val logicalToPhysical: Map[String, String] = Map.empty)
  extends ParquetFileFormat {

  override def metadataSchemaFields: Seq[StructField] =
    super.metadataSchemaFields :+
      FileSourceConstantMetadataStructField(
        GraftParquetFileFormat.DvPathField, StringType, nullable = true)

  private def physName(n: String): String = logicalToPhysical.getOrElse(n, n)

  private def translate(schema: StructType): StructType =
    StructType(schema.fields.map(f => f.copy(name = physName(f.name))))

  /** Rewrite a pushed filter's attribute references logical → physical.
    * None (drop the filter) for shapes we don't recognize that touch a
    * mapped column — pushed filters are advisory (the full predicate
    * re-applies above the scan), so dropping is always sound. */
  private def translateFilter(f: Filter): Option[Filter] = f match {
    case sources.EqualTo(a, v) => Some(sources.EqualTo(physName(a), v))
    case sources.EqualNullSafe(a, v) => Some(sources.EqualNullSafe(physName(a), v))
    case sources.GreaterThan(a, v) => Some(sources.GreaterThan(physName(a), v))
    case sources.GreaterThanOrEqual(a, v) =>
      Some(sources.GreaterThanOrEqual(physName(a), v))
    case sources.LessThan(a, v) => Some(sources.LessThan(physName(a), v))
    case sources.LessThanOrEqual(a, v) =>
      Some(sources.LessThanOrEqual(physName(a), v))
    case sources.In(a, vs) => Some(sources.In(physName(a), vs))
    case sources.IsNull(a) => Some(sources.IsNull(physName(a)))
    case sources.IsNotNull(a) => Some(sources.IsNotNull(physName(a)))
    case sources.StringStartsWith(a, v) =>
      Some(sources.StringStartsWith(physName(a), v))
    case sources.StringEndsWith(a, v) =>
      Some(sources.StringEndsWith(physName(a), v))
    case sources.StringContains(a, v) =>
      Some(sources.StringContains(physName(a), v))
    case sources.Not(c) => translateFilter(c).map(sources.Not)
    case sources.And(l, r) => (translateFilter(l), translateFilter(r)) match {
      case (Some(a), Some(b)) => Some(sources.And(a, b))
      case (a, b) => a.orElse(b) // And: either side alone is still sound
    }
    case sources.Or(l, r) => for { a <- translateFilter(l); b <- translateFilter(r) }
      yield sources.Or(a, b) // Or: both sides or nothing
    case other if other.references.forall(r => !logicalToPhysical.contains(r)) =>
      Some(other) // touches no mapped column — pass through unchanged
    case _ => None
  }

  override def buildReaderWithPartitionValues(sparkSession: SparkSession,
      dataSchema: StructType, partitionSchema: StructType,
      requiredSchema: StructType, filters: Seq[Filter],
      options: Map[String, String],
      hadoopConf: Configuration): PartitionedFile => Iterator[InternalRow] =
    if (logicalToPhysical.isEmpty)
      super.buildReaderWithPartitionValues(sparkSession, dataSchema,
        partitionSchema, requiredSchema, filters, options, hadoopConf)
    else
      super.buildReaderWithPartitionValues(sparkSession,
        translate(dataSchema), partitionSchema, translate(requiredSchema),
        filters.flatMap(translateFilter), options, hadoopConf)

  // ParquetFileFormat.equals treats every parquet format as equal; keep
  // this class distinct so plan canonicalization never conflates a lake
  // scan (which resolves __dv_path, and may rename columns) with a
  // plain parquet scan — or two lake scans with different mappings
  override def equals(other: Any): Boolean = other match {
    case g: GraftParquetFileFormat => g.logicalToPhysical == logicalToPhysical
    case _ => false
  }
  override def hashCode(): Int =
    getClass.hashCode() * 31 + logicalToPhysical.hashCode()
  override def toString: String = "GraftParquet"
}

object GraftParquetFileFormat {
  /** Name of the per-file constant metadata column carrying the DV
    * sidecar path (null ⇒ no deletions in the file). */
  val DvPathField = "__dv_path"
}
