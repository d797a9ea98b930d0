package graft.ops

import scala.collection.mutable

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Cast, Expression, JoinedRow, Literal, MutableProjection, SpecificInternalRow, Substring, UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.aggregate.{Count, DeclarativeAggregate, Max, Min}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateMutableProjection
import org.apache.spark.sql.execution.datasources.{WriteJobStatsTracker, WriteTaskStats, WriteTaskStatsTracker}
import org.apache.spark.sql.types.{StringType, StructType}

/** One written file's stats: its file name, its row count and, per
  * stat column in the tracker's order, the non-null count with the
  * min and max rendered through Spark's cast to string (None when the
  * column holds no non-null value in the file). */
private[ops] final case class FileStats(name: String, rows: Long,
  cols: Seq[(Long, Option[String], Option[String])])

private final case class TaskFileStats(files: Seq[FileStats])
  extends WriteTaskStats

/** Per-file row count, non-null count, min and max of `statCols`,
  * collected by the write job itself while it writes each file — no
  * read-back of the files, no second job. The aggregates are Spark's
  * own `Count`/`Min`/`Max`, run through generated mutable projections
  * over one buffer row per open file (the pattern of Delta's
  * `DeltaJobStatisticsTracker`), so a file's min/max is exactly what a
  * `min`/`max` aggregate over its rows returns. Values render through
  * `Cast(_, StringType)` under `sessionTz`, the form the `#stats`
  * manifest lines carry. String columns aggregate over their first
  * `stringPrefix` code points: only a bounded prefix reaches the
  * driver, and min/max commute with prefixing (a prefix is monotone
  * in binary string order), so the result equals the prefix of the
  * full min/max.
  *
  * `schema` is the written rows' layout (the frame's output columns,
  * none of them partition columns). The driver-side instance holds
  * the job's results in [[files]] once the write committed. */
private[ops] final class StatsTracker(schema: StructType,
    statCols: Seq[String], stringPrefix: Int, sessionTz: String)
    extends WriteJobStatsTracker {

  @transient private var collected: Seq[FileStats] = Nil

  /** Every file of the committed write job, in no particular order. */
  def files: Seq[FileStats] = collected

  override def newTaskInstance(): WriteTaskStatsTracker =
    new StatsTaskTracker(schema, statCols, stringPrefix, sessionTz)

  override def processStats(stats: Seq[WriteTaskStats],
      jobCommitTime: Long): Unit =
    collected = stats.collect { case t: TaskFileStats => t.files }.flatten
}

private final class StatsTaskTracker(schema: StructType,
    statCols: Seq[String], stringPrefix: Int, sessionTz: String)
    extends WriteTaskStatsTracker {

  private val dataCols = schema.map(f =>
    AttributeReference(f.name, f.dataType, nullable = true)())

  // strings aggregate over a bounded prefix: it is all the driver gets,
  // and it bounds the copy the generated projection makes of each
  // string it stores in a buffer (the writer reuses its row buffers)
  private val inputs: Seq[Expression] = statCols.map { n =>
    val a = dataCols.find(_.name == n).getOrElse(
      throw new IllegalArgumentException(
        s"stat column '$n' is not written: ${schema.fieldNames.toSeq}"))
    if (a.dataType == StringType)
      Substring(a, Literal(1), Literal(stringPrefix))
    else a
  }

  // rows, then (non-null count, min, max) per stat column
  private val aggs: Seq[DeclarativeAggregate] =
    Count(Literal(1)) +: inputs.flatMap(e => Seq(Count(e), Min(e), Max(e)))

  private val bufferAttrs = aggs.flatMap(_.aggBufferAttributes)

  private val initialize: MutableProjection = GenerateMutableProjection
    .generate(aggs.flatMap(_.initialValues), Nil,
      useSubexprElimination = false)

  private val update: MutableProjection = GenerateMutableProjection
    .generate(aggs.flatMap(_.updateExpressions), bufferAttrs ++ dataCols,
      useSubexprElimination = true)

  private val result = UnsafeProjection.create(aggs.map {
    case c: Count => c.evaluateExpression
    case a => Cast(a.evaluateExpression, StringType, Some(sessionTz))
  }, bufferAttrs)

  private val buffers = mutable.LinkedHashMap.empty[String, InternalRow]
  private val joined = new JoinedRow
  private var curPath: String = _
  private var cur: InternalRow = _

  override def newPartition(partitionValues: InternalRow): Unit = ()

  override def newFile(filePath: String): Unit =
    buffers.getOrElseUpdate(filePath, {
      val b = new SpecificInternalRow(bufferAttrs.map(_.dataType))
      initialize.target(b).apply(InternalRow.empty)
      b
    })

  override def closeFile(filePath: String): Unit = ()

  override def newRow(filePath: String, row: InternalRow): Unit = {
    if (filePath != curPath) {
      cur = buffers(filePath)
      curPath = filePath
    }
    update.target(cur).apply(joined(cur, row))
  }

  override def getFinalStats(taskCommitTime: Long): WriteTaskStats =
    TaskFileStats(buffers.iterator.map { case (path, b) =>
      val r = result(b)
      def str(i: Int): Option[String] =
        if (r.isNullAt(i)) None else Some(r.getUTF8String(i).toString)
      FileStats(new HPath(path).getName, r.getLong(0),
        statCols.indices.map(i =>
          (r.getLong(1 + 3 * i), str(2 + 3 * i), str(3 + 3 * i))))
    }.toVector)
}
