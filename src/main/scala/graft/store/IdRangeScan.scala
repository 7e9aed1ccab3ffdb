package graft.store

import java.io.Closeable

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.{FileSourceOptions, InternalRow}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.planning.PhysicalOperation
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.{LeafExecNode, PartitionedFileUtil, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.datasources.{FilePartition, FileScanRDD,
  HadoopFsRelation, LogicalRelation, PartitionedFile}

/** Plans a read of an [[IdRangeIndex]] relation that Spark would scan as
  * one file partition as an [[IdRangeScanExec]], which answers a collect
  * or a take on the driver: a point lookup or a page's node fetch runs no
  * Spark job and compiles no class for its `id` literal.
  *
  * It fires on projections and filters over the relation when the files
  * [[IdRangeIndex.listFiles]] keeps form at most one partition under
  * Spark's own split rules (`FilePartition.maxSplitBytes` and
  * `getFilePartitions`, as `FileSourceScanExec` plans them), so a scan it
  * takes over would have run as one task anyway. Anything else — several
  * partitions (a large read, a hash-partitioned base after an update), a
  * nondeterministic expression, a subquery, a `_metadata` column — falls
  * through to Spark's `FileSourceStrategy`.
  */
private[store] object IdRangeScan extends SparkStrategy {

  /** Add the strategy to `spark`'s planner, once per session. */
  def install(spark: SparkSession): Unit = {
    val methods = spark.experimental
    methods.synchronized {
      if (!methods.extraStrategies.contains(this))
        methods.extraStrategies = this +: methods.extraStrategies
    }
  }

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case PhysicalOperation(projects, filters,
        l @ LogicalRelation(h @ HadoopFsRelation(ix: IdRangeIndex, _, _, _, _, _), _, _, _, _))
        if (projects ++ filters).forall(e => e.deterministic && !SubqueryExpression.hasSubquery(e)) &&
          !l.output.exists(FileSourceMetadataAttribute.unapply(_).isDefined) =>
      val listed = ix.listFiles(Nil, filters)
      val spark = h.sparkSession
      val maxSplit = FilePartition.maxSplitBytes(spark, listed)
      val split = listed.flatMap(d => d.files.flatMap(f => PartitionedFileUtil.splitFiles(f,
        f.getPath, h.fileFormat.isSplitable(spark, h.options, f.getPath), maxSplit, d.values)))
        .sortBy(-_.length)
      if (FilePartition.getFilePartitions(spark, split, maxSplit).size > 1) Nil
      else {
        val required = AttributeSet(projects ++ filters)
        IdRangeScanExec(projects, filters, l.output.filter(required.contains), h, split) :: Nil
      }
    case _ => Nil
  }
}

/** `projects` over the rows of `files` (at most one file partition) that
  * pass every one of `filters`, reading only the `columns` of the
  * [[IdRangeIndex]] relation with its cached parquet read function.
  * A collect or a take reads the files on the driver (a take stops once it
  * has its rows); [[doExecute]], for joins, aggregates and `.rdd`, runs
  * the same read in one `FileScanRDD` task. Both evaluate the filters and
  * the projection interpreted: no literal is compiled.
  */
private[store] final case class IdRangeScanExec(
    projects: Seq[NamedExpression],
    filters: Seq[Expression],
    columns: Seq[Attribute],
    @transient relation: HadoopFsRelation,
    files: Seq[PartitionedFile]) extends LeafExecNode {

  override def output: Seq[Attribute] = projects.map(_.toAttribute)

  override def producedAttributes: AttributeSet = AttributeSet(columns)

  private def readFile = relation.location.asInstanceOf[IdRangeIndex]
    .reader(relation, DataTypeUtils.fromAttributes(columns))

  private def evaluate: Iterator[InternalRow] => Iterator[InternalRow] =
    IdRangeScanExec.evaluate(filters.reduceOption(And).map(BindReferences.bindReference(_, columns)),
      projects.map(BindReferences.bindReference(_: Expression, columns)))

  override def executeCollect(): Array[InternalRow] = executeTake(Int.MaxValue)

  override def executeTake(n: Int): Array[InternalRow] = {
    val out = ArrayBuffer.empty[InternalRow]
    val (read, keep) = (readFile, evaluate)
    files.iterator.takeWhile(_ => out.size < n).foreach { f =>
      val rows = read(f)
      try {
        val kept = keep(rows)
        while (out.size < n && kept.hasNext) out += kept.next().copy()
      } finally rows match {
        case c: Closeable => c.close()
        case _ => rows.foreach(_ => ()) // a parquet-mr reader closes when drained
      }
    }
    out.toArray
  }

  override protected def doExecute(): RDD[InternalRow] = {
    val evaluate = this.evaluate
    new FileScanRDD(relation.sparkSession, readFile,
      if (files.isEmpty) Nil else Seq(FilePartition(0, files.toArray)),
      DataTypeUtils.fromAttributes(columns), Nil, Map.empty, new FileSourceOptions(relation.options))
      .mapPartitions(evaluate)
  }

  override def simpleString(maxFields: Int): String =
    s"IdRangeScan ${output.mkString("[", ",", "]")} " +
      s"filters=${filters.mkString("[", ", ", "]")} " +
      s"files=${files.map(_.toPath.getName).mkString("[", ", ", "]")}"
}

private object IdRangeScanExec {
  /** The rows passing `filter`, projected: interpreted, so built with no
    * compile. */
  def evaluate(filter: Option[Expression], projects: Seq[Expression])
      : Iterator[InternalRow] => Iterator[InternalRow] = { rows =>
    val keep = filter.map(Predicate.createInterpreted)
    val project = InterpretedUnsafeProjection.createProjection(projects)
    rows.filter(r => keep.forall(_.eval(r))).map(project)
  }
}
