package graft.store

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.execution.datasources.{FileFormat, FileIndex,
  FileStatusWithMetadata, HadoopFsRelation, PartitionDirectory, PartitionedFile}
import org.apache.spark.sql.types.{LongType, StructType}

/** The file index of an [[ItemStore]], under the one relation every read
  * of the store goes through: its live files with their footers' `id`
  * ranges, so a read plans which files to scan on the driver. Spark's
  * parquet scan checks row-group statistics only inside its tasks, one
  * task per file; here [[listFiles]] drops every file whose `[min, max]`
  * id range cannot satisfy the pushed `id` filters, and a point lookup
  * reads only the one file that can hold the id. A read whose listed
  * files form one file partition is planned by [[IdRangeScan]] and runs
  * on the driver, with no Spark job.
  *
  * Pruning is never wrong, whatever the layout: only `=`, `IN`, `<`, `<=`,
  * `>`, `>=` on `id` against literals, and their `AND`, skip a file; any
  * other predicate, and a file without `id` statistics, keeps it. On a
  * hash-partitioned base (after an update) every range spans the store,
  * so nothing is skipped and a read of its several files takes Spark's
  * scan and a job. Committed files never change, so the index is
  * immutable: the store builds a new one when its manifest changes.
  *
  * @param children the child lists of every directory in the manifest
  *   this index was built from, read on first use (see
  *   [[ItemStore.childrenOf]])
  */
final class IdRangeIndex private[store] (
    override val rootPaths: Seq[Path],
    private[store] val files: Seq[ItemStore.Footer],
    private[store] val children: () => Seq[ItemStore.ChildList]) extends FileIndex {

  override def listFiles(partitionFilters: Seq[Expression],
                         dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
    Seq(PartitionDirectory(InternalRow.empty, files
      .filter(f => dataFilters.forall(IdRangeIndex.mayHold(f.ids, _)))
      .map(f => FileStatusWithMetadata(f.status, Map.empty))))

  override def inputFiles: Array[String] = files.map(_.status.getPath.toString).toArray

  override def refresh(): Unit = ()

  override def sizeInBytes: Long = files.map(_.status.getLen).sum

  override def partitionSchema: StructType = new StructType()

  /** Rows in the listed files, from their footers. */
  private[store] def rows: Long = files.map(_.rows).sum

  private val readers = scala.collection.concurrent.TrieMap
    .empty[StructType, PartitionedFile => Iterator[InternalRow]]

  /** The parquet read function of `relation` (over this index) for the
    * columns `schema`, built once per schema with the session's conf at
    * the time: each build broadcasts the Hadoop conf. No filter is pushed
    * into it, so one function serves every `id` literal; the files are
    * already chosen by [[listFiles]]. */
  private[store] def reader(relation: HadoopFsRelation,
                            schema: StructType): PartitionedFile => Iterator[InternalRow] =
    readers.getOrElseUpdate(schema, relation.fileFormat.buildReaderWithPartitionValues(
      relation.sparkSession, relation.dataSchema, relation.partitionSchema, schema, Nil,
      relation.options + (FileFormat.OPTION_RETURNING_BATCH -> "false"),
      relation.sparkSession.sessionState.newHadoopConfWithOptions(relation.options)))
}

private[store] object IdRangeIndex {
  private object Id {
    def unapply(e: Expression): Boolean = e match {
      case a: AttributeReference => a.name == "id" && a.dataType == LongType
      case _ => false
    }
  }

  private object Value {
    def unapply(e: Expression): Option[Long] = e match {
      case Literal(v: Long, LongType) => Some(v)
      case _ => None
    }
  }

  /** Whether a file whose ids span `ids` (None: unknown) may hold a row
    * satisfying `filter`. */
  def mayHold(ids: Option[(Long, Long)], filter: Expression): Boolean = (ids, filter) match {
    case (_, And(a, b)) => mayHold(ids, a) && mayHold(ids, b)
    case (None, _) => true
    case (Some((lo, hi)), f) =>
      def within(v: Long) = lo <= v && v <= hi
      f match {
        case EqualTo(Id(), Value(v)) => within(v)
        case EqualTo(Value(v), Id()) => within(v)
        case In(Id(), list) if list.forall(Value.unapply(_).isDefined) =>
          list.exists { case Value(v) => within(v) }
        // a null element never matches; a value of another type keeps the file
        case InSet(Id(), set) => set.exists {
          case v: java.lang.Long => within(v)
          case null => false
          case _ => true
        }
        case LessThan(Id(), Value(v)) => lo < v
        case GreaterThan(Value(v), Id()) => lo < v
        case LessThanOrEqual(Id(), Value(v)) => lo <= v
        case GreaterThanOrEqual(Value(v), Id()) => lo <= v
        case GreaterThan(Id(), Value(v)) => hi > v
        case LessThan(Value(v), Id()) => hi > v
        case GreaterThanOrEqual(Id(), Value(v)) => hi >= v
        case LessThanOrEqual(Value(v), Id()) => hi >= v
        case _ => true
      }
  }
}
