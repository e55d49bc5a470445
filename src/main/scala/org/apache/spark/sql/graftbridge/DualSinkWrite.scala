package org.apache.spark.sql.graftbridge

import java.util.{Date, UUID}

import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, OutputCommitter, TaskAttemptContext, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.lib.output.FileOutputFormat
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl

import org.apache.spark.{SparkEnv, TaskContext}
import org.apache.spark.executor.CommitDeniedException
import org.apache.spark.internal.io.{FileNameSpec, SparkHadoopWriterUtils}
import org.apache.spark.internal.io.FileCommitProtocol.TaskCommitMessage
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeSeq, BindReferences, BoundReference, Expression, InterpretedUnsafeProjection, RuntimeReplaceable, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.{OutputWriter, OutputWriterFactory, SQLHadoopMapReduceCommitProtocol}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

/** One output of a [[DualSinkWrite]]: a parquet directory written with
  * append semantics, the record columns it stores (evaluated over the
  * written frame), and the record column its rows are counted by.
  */
final case class Sink(path: String, record: Seq[Column], countBy: String)

/** Rows one sink received: in total, and per value of its `countBy`
  * column (a null value counts under the key `null`).
  */
final case class SinkCounts(rows: Long, byKey: Map[String, Long])

/** Two parquet sinks filled by one Spark job over one frame — Beam's
  * tagged main/side outputs (bp.py:341-383) as a single physical write.
  *
  * Each write task routes a row whose `tag` column is null to the `main`
  * sink and any other row to the `side` sink. The `main` record must be
  * the frame's leading columns, in order: the parquet writer reads a
  * row's fields by ordinal up to its schema's width, so a main row is
  * written as it comes, without a copy. The `side` record is built per
  * row by an interpreted projection, as its rows are expected to be
  * rare. So the frame's fused stage computes only what both sinks
  * share, and side-only columns cost nothing on main rows.
  *
  * Each sink has its own `FileCommitProtocol` (Spark's default,
  * `SQLHadoopMapReduceCommitProtocol`) and keeps `df.write.mode(Append)
  * .parquet(path)`'s layout: part files named like Spark's own, a file
  * from partition 0 even when that sink gets no rows (so an empty sink
  * still reads back with its schema), `_SUCCESS` on commit. It writes
  * one file per task and sink (`spark.sql.files.maxRecordsPerFile` is
  * not applied). Task output only reaches the sink directories at job
  * commit, after every task has succeeded; a failed job aborts both
  * sinks' jobs and leaves no part file behind. The two job commits run
  * one after the other, so only a failure inside the second one can
  * leave the first sink committed alone.
  *
  * The output commit coordinator grants a task attempt one commit per
  * partition, so a task asks once and then commits both sinks' task
  * output under that one grant.
  */
object DualSinkWrite {

  def apply(rows: DataFrame, tag: String, main: Sink, side: Sink): (SinkCounts, SinkCounts) = {
    val spark = rows.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val qe = rows.queryExecution
    val input = qe.executedPlan.output
    val tagOrdinal = input.indexWhere(_.name == tag)
    require(tagOrdinal >= 0, s"DualSinkWrite: no column '$tag' in " +
      input.map(_.name).mkString(","))
    val jobTrackerId = SparkHadoopWriterUtils.createJobTrackerID(new Date())
    val sinks = Seq(main, side).map(SinkJob(spark, rows, input, _))
    require(sinks.head.record.zipWithIndex.forall {
      case (BoundReference(ordinal, _, _), i) => ordinal == i
      case _ => false
    }, s"DualSinkWrite: the main sink's record must be the frame's leading columns, " +
      s"got ${main.record.mkString(", ")}")

    SQLExecution.withNewExecutionId(qe, Some("dual sink write")) {
      val started = scala.collection.mutable.ArrayBuffer.empty[SinkJob]
      try {
        sinks.foreach { s => started += s; s.protocol.setupJob(s.job) }
        val rdd = qe.toRdd
        val parts = if (rdd.partitions.isEmpty) spark.sparkContext.parallelize(
          Seq.empty[InternalRow], 1) else rdd
        val Seq(mainJob, sideJob) = sinks
        val results = spark.sparkContext.runJob(parts,
          (ctx: TaskContext, it: Iterator[InternalRow]) =>
            writeTask(ctx, it, tagOrdinal, jobTrackerId, mainJob, sideJob))
        sinks.zipWithIndex.foreach { case (s, i) =>
          s.protocol.commitJob(s.job, results.map(_(i)._1).toSeq)
        }
        spark.catalog.refreshByPath(main.path)
        spark.catalog.refreshByPath(side.path)
        (merge(results.map(_(0)._2)), merge(results.map(_(1)._2)))
      } catch { case t: Throwable =>
        started.foreach(s => try s.protocol.abortJob(s.job) catch {
          case e: Throwable => t.addSuppressed(e)
        })
        throw t
      }
    }
  }

  private def merge(counts: Seq[Map[String, Long]]): SinkCounts = {
    val byKey = counts.flatten.groupMapReduce(_._1)(_._2)(_ + _)
    SinkCounts(byKey.values.sum, byKey)
  }

  /** One partition: route, write, then commit both sinks' task output. */
  private def writeTask(ctx: TaskContext, it: Iterator[InternalRow], tagOrdinal: Int,
                        jobTrackerId: String, mainJob: SinkJob, sideJob: SinkJob)
  : Seq[(TaskCommitMessage, Map[String, Long])] = {
    val mainTask = new SinkTask(mainJob, ctx, jobTrackerId, projected = false)
    val sideTask = new SinkTask(sideJob, ctx, jobTrackerId, projected = true)
    val tasks = Seq(mainTask, sideTask)
    try {
      if (ctx.partitionId == 0) tasks.foreach(_.open())
      while (it.hasNext) {
        val row = it.next()
        if (row.isNullAt(tagOrdinal)) mainTask.write(row) else sideTask.write(row)
      }
      tasks.foreach(_.close())
      permitCommit(ctx)
      val out = tasks.map(t => (t.commit(), t.counts))
      // What Spark's own writer reports through its stats tracker.
      val metrics = ctx.taskMetrics().outputMetrics
      metrics.setBytesWritten(tasks.map(_.bytes).sum)
      metrics.setRecordsWritten(out.map(_._2.values.sum).sum)
      out
    } catch { case t: Throwable =>
      tasks.foreach(s => try s.abort() catch { case e: Throwable => t.addSuppressed(e) })
      throw t
    }
  }

  /** The coordinator's one commit grant for this task attempt, asked the
    * way `SparkHadoopMapRedUtil.commitTask` asks it.
    */
  private def permitCommit(ctx: TaskContext): Unit = {
    val env = SparkEnv.get
    if (env.conf.getBoolean("spark.hadoop.outputCommitCoordination.enabled", true) &&
      !env.outputCommitCoordinator.canCommit(ctx.stageId(), ctx.stageAttemptNumber(),
        ctx.partitionId(), ctx.attemptNumber())) {
      throw new CommitDeniedException(
        s"dual sink write: commit denied for partition ${ctx.partitionId()} " +
          s"attempt ${ctx.attemptNumber()}",
        ctx.stageId(), ctx.partitionId(), ctx.attemptNumber())
    }
  }
}

/** What a sink's write tasks need, prepared before the job runs: the
  * record bound to the written frame's rows, its schema, and the sink's
  * commit protocol, Hadoop job and parquet writer factory.
  */
private final case class SinkJob(
    record: Seq[Expression],
    schema: StructType,
    countOrdinal: Int,
    protocol: SinkCommitProtocol,
    @transient job: Job,
    factory: OutputWriterFactory,
    conf: SerializableConfiguration)

private object SinkJob {
  def apply(spark: org.apache.spark.sql.classic.SparkSession, rows: DataFrame,
            input: Seq[Attribute], sink: Sink): SinkJob = {
    val view = rows.select(sink.record: _*)
    val bound = AttributeSeq(input)
    // The analyzed projection, made evaluable the way the optimizer's
    // ReplaceExpressions makes it, and bound to the frame's row layout.
    val record = view.queryExecution.analyzed match {
      case Project(list, _) => list.map { e =>
        val evaluable = e.transform { case r: RuntimeReplaceable => r.replacement } match {
          case a: Alias => a.child
          case other => other
        }
        BindReferences.bindReference(evaluable, bound)
      }
      case other => throw new IllegalStateException(
        s"sink record did not analyze to a projection: ${other.nodeName}")
    }
    val out = new Path(sink.path)
    val hadoopConf = spark.sessionState.newHadoopConf()
    val fs = out.getFileSystem(hadoopConf)
    val qualified = out.makeQualified(fs.getUri, fs.getWorkingDirectory)
    val job = Job.getInstance(hadoopConf)
    job.setOutputKeyClass(classOf[Void])
    job.setOutputValueClass(classOf[InternalRow])
    FileOutputFormat.setOutputPath(job, qualified)
    val factory = new ParquetFileFormat().prepareWrite(spark, job, Map.empty, view.schema)
    SinkJob(record, view.schema, view.schema.fieldIndex(sink.countBy),
      new SinkCommitProtocol(UUID.randomUUID().toString, qualified.toString),
      job, factory, new SerializableConfiguration(job.getConfiguration))
  }
}

/** Spark's default commit protocol, plus a task commit for a task that
  * already holds the coordinator's grant for its partition.
  */
private final class SinkCommitProtocol(jobId: String, path: String)
  extends SQLHadoopMapReduceCommitProtocol(jobId, path) {

  @transient private var committer: OutputCommitter = _

  override protected def setupCommitter(context: TaskAttemptContext): OutputCommitter = {
    committer = super.setupCommitter(context)
    committer
  }

  /** `commitTask` without asking the coordinator again. The message is
    * the one `commitTask` sends for a write with no partition columns
    * and no absolute-path files.
    */
  def commitPermittedTask(context: TaskAttemptContext): TaskCommitMessage = {
    if (committer.needsTaskCommit(context)) committer.commitTask(context)
    new TaskCommitMessage(Map.empty[String, String] -> Set.empty[String])
  }
}

/** One sink's side of one write task: opens its part file on the first
  * row, writes each routed row's record (the row itself unless
  * `projected`), counts rows per key.
  */
private final class SinkTask(job: SinkJob, ctx: TaskContext, jobTrackerId: String,
                             projected: Boolean) {
  private val attempt: TaskAttemptContext = {
    val jobId = SparkHadoopWriterUtils.createJobID(jobTrackerId, ctx.stageId())
    val attemptId = new TaskAttemptID(
      new TaskID(jobId, TaskType.MAP, ctx.partitionId()), ctx.attemptNumber())
    val conf = job.conf.value
    conf.set("mapreduce.job.id", jobId.toString)
    conf.set("mapreduce.task.id", attemptId.getTaskID.toString)
    conf.set("mapreduce.task.attempt.id", attemptId.toString)
    conf.setBoolean("mapreduce.task.ismap", true)
    conf.setInt("mapreduce.task.partition", 0)
    new TaskAttemptContextImpl(conf, attemptId)
  }
  job.protocol.setupTask(attempt)

  private val project: UnsafeProjection =
    if (!projected) null
    else {
      val p = InterpretedUnsafeProjection.createProjection(job.record)
      p.initialize(ctx.partitionId())
      p
    }

  private var writer: OutputWriter = _
  private val perKey = new java.util.HashMap[UTF8String, Array[Long]]
  var bytes = 0L

  def open(): Unit = if (writer == null) {
    val ext = "-c000" + job.factory.getFileExtension(attempt)
    val file = job.protocol.newTaskTempFile(attempt, None, FileNameSpec("", ext))
    writer = job.factory.newInstance(file, job.schema, attempt)
  }

  def write(row: InternalRow): Unit = {
    open()
    val record = if (project == null) row else project(row)
    writer.write(record)
    val key = if (record.isNullAt(job.countOrdinal)) null
              else record.getUTF8String(job.countOrdinal)
    val n = perKey.get(key)
    if (n != null) n(0) += 1
    else perKey.put(if (key == null) null else key.clone(), Array(1L))
  }

  def close(): Unit = if (writer != null) {
    val file = new Path(writer.path())
    writer.close()
    writer = null
    bytes = file.getFileSystem(attempt.getConfiguration).getFileStatus(file).getLen
  }

  def commit(): TaskCommitMessage = job.protocol.commitPermittedTask(attempt)

  def counts: Map[String, Long] = {
    val out = Map.newBuilder[String, Long]
    perKey.forEach((k, n) => out += String.valueOf(k) -> n(0))
    out.result()
  }

  def abort(): Unit =
    try if (writer != null) writer.close()
    finally job.protocol.abortTask(attempt)
}
