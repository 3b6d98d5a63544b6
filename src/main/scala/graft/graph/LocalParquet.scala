package graft.graph

import java.util.UUID

import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.lib.output.FileOutputFormat
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType

/** Spark's parquet writer run on the driver, for rows already held there:
  * one table under `dir` with data schema `schema`, written in no Spark job.
  *
  * It takes the steps of a file-source write: `ParquetFileFormat.prepareWrite`
  * sets up the job's Hadoop conf from the session's SQL conf, and each
  * [[file]] is one output writer of that factory, the one a write task
  * holds, fed rows through `CatalystTypeConverters` and then, as a task
  * feeds them, as `UnsafeRow`s. Write support, codec, footer metadata and
  * conf are a task's, so the files are the ones a DataFrame write of the
  * same rows, split the same way, leaves: byte for byte, names aside.
  *
  * The `UnsafeRow` step is for speed, not for the bytes. Fed the converter's
  * generic rows, the writer's code was first run, and compiled by the JIT,
  * for a row class no task ever passes it; every later Spark write in the
  * JVM then ran slower: the `history` benchmark's `switch_commit`, which
  * saves through the DataFrame writer, took 4.5–6.0 s a switch against
  * 3.2–4.4 s before this writer existed (seeds 4101–4103).
  *
  * There is no task commit: the caller writes into a directory no reader
  * sees until it is renamed into place ([[GraphStore]]'s stage-then-swap),
  * and [[commit]] marks the table written with `_SUCCESS`, as the job
  * commit does.
  */
private[graph] final class LocalParquet(spark: SparkSession, dir: Path, schema: StructType) {

  private val conf = spark.sessionState.conf
  private val job = Job.getInstance(spark.sessionState.newHadoopConf())
  job.setOutputKeyClass(classOf[Void])
  job.setOutputValueClass(classOf[InternalRow])
  FileOutputFormat.setOutputPath(job, dir)
  private val factory = SQLConf.withExistingConf(conf) {
    new ParquetFileFormat().prepareWrite(spark, job, Map.empty, schema)
  }
  private val toCatalyst = CatalystTypeConverters.createToCatalystConverter(schema)
  private val toUnsafe = UnsafeProjection.create(schema)
  private val jobId = new JobID(UUID.randomUUID().toString, 0)
  private var files = 0

  /** Writes `rows` as one part file in `dir`'s subdirectory `sub` (a
    * partition path such as `type=CALLS`, or "" for `dir` itself). */
  def file(sub: String, rows: Iterator[Row]): Unit = SQLConf.withExistingConf(conf) {
    val ctx = new TaskAttemptContextImpl(job.getConfiguration,
      new TaskAttemptID(new TaskID(jobId, TaskType.MAP, files), 0))
    val name = f"part-$files%05d-${jobId.getJtIdentifier}-c000${factory.getFileExtension(ctx)}"
    val path = if (sub.isEmpty) new Path(dir, name) else new Path(new Path(dir, sub), name)
    val out = factory.newInstance(path.toString, schema, ctx)
    try rows.foreach(r => out.write(toUnsafe(toCatalyst(r).asInstanceOf[InternalRow])))
    finally out.close()
    files += 1
  }

  /** Marks the table complete with an empty `_SUCCESS`, as a committed
    * Spark write does. */
  def commit(): Unit =
    dir.getFileSystem(job.getConfiguration).create(new Path(dir, "_SUCCESS"), true).close()
}
