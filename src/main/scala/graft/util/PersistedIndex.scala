package graft.util

import java.io.{InputStream, OutputStream}
import java.util.UUID

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.lit

/** One persisted index directory and the one way it is written. The six
  * pipeline index families (URL keepers, MinHash bands, line counts,
  * contamination grams, IVF postings, PQ codes) all go through it; each
  * family keeps only its row computation and its probe.
  *
  * Layout of `dir`:
  *  - side tables and files, written once per build: `meta` (the build's
  *    parameters, one row), centroids, a codebook, a Bloom sketch;
  *  - the row table `rows/`, whose entry names are the published state
  *    (there is no other manifest): `g-<uuid>/` holds the rows of the
  *    last build or rewrite (its generation), `b-<id>/` the rows of one
  *    appended batch, and an empty file `b-<id>` a batch that a rewrite
  *    has folded into the generation.
  *
  * Every write stages first and publishes with one checked rename
  * ([[StageSwap]]):
  *  - [[build]] stages the whole directory and promotes it, so a kill
  *    mid-build leaves the previous index readable;
  *  - [[append]] stages a batch beside the row table and renames it in.
  *    A batch id that is already published is a no-op, so a retried
  *    append cannot count a batch twice; a kill before the rename leaves
  *    a stage that no reader lists and the next write sweeps;
  *  - [[rewrite]] (compaction, removal) stages a new row table and swaps
  *    it in, keeping the folded batch ids published.
  *
  * SINGLE WRITER per directory, the [[StageSwap]] contract. */
final case class PersistedIndex(spark: SparkSession, dir: String) {

  private val root = new Path(dir)
  private val table = new Path(root, "rows")
  private def fs: FileSystem =
    root.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Replace the index with `rows` as its first generation, the `meta`
    * row (one column per name), side tables and side files. */
  def build(rows: DataFrame, meta: Seq[(String, Any)] = Nil,
      sides: Map[String, DataFrame] = Map.empty,
      files: Map[String, OutputStream => Unit] = Map.empty): Unit =
    StageSwap.promote(fs, stageBuild(rows, meta, sides, files), root)

  /** Write a whole index into a fresh stage; [[build]] promotes it. */
  private[graft] def stageBuild(rows: DataFrame, meta: Seq[(String, Any)],
      sides: Map[String, DataFrame],
      files: Map[String, OutputStream => Unit]): Path = {
    val stage = StageSwap.stageFor(fs, root)
    rows.write.parquet(generationIn(new Path(stage, "rows")))
    if (meta.nonEmpty)
      spark.range(0, 1, 1, 1)
        .select(meta.map { case (k, v) => lit(v).as(k) }: _*)
        .write.parquet(new Path(stage, "meta").toString)
    sides.foreach { case (name, df) =>
      df.write.parquet(new Path(stage, name).toString)
    }
    files.foreach { case (name, write) =>
      val out = fs.create(new Path(stage, name), false)
      try write(out) finally out.close()
    }
    stage
  }

  /** Publish `rows` as batch `batchId`, unless that batch is already
    * published (then `rows` is not evaluated). */
  def append(batchId: Long, rows: => DataFrame): Unit = {
    val batch = new Path(table, s"b-$batchId")
    if (!fs.exists(batch))
      require(fs.rename(stageBatch(rows), batch),
        s"could not publish batch $batchId into $table")
  }

  /** Write one batch into a fresh stage beside the row table. */
  private[graft] def stageBatch(rows: DataFrame): Path = {
    val stage = StageSwap.stageFor(fs, table)
    rows.write.parquet(stage.toString)
    stage
  }

  /** Replace the published rows with `f(rows)` as a new generation. The
    * new rows are written in full before the swap, so `f` may read the
    * files it replaces. */
  def rewrite(f: DataFrame => DataFrame): Unit = {
    val folded = entries.map(_.getPath.getName).filter(_.startsWith("b-"))
    val stage = StageSwap.stageFor(fs, table)
    f(rows).write.parquet(generationIn(stage))
    folded.foreach(b => fs.create(new Path(stage, b), false).close())
    StageSwap.promote(fs, stage, table)
  }

  /** The published rows: the generation plus every published batch. */
  def rows: DataFrame = spark.read.parquet(
    entries.filter(_.isDirectory).map(_.getPath.toString): _*)

  /** A token that changes whenever a write publishes: a build or rewrite
    * mints a fresh generation, an append adds a batch. */
  def state: String = entries.map(_.getPath.getName).sorted.mkString(",")

  private def entries: Seq[FileStatus] = fs.listStatus(table).toSeq

  private def generationIn(parent: Path): String =
    new Path(parent, s"g-${UUID.randomUUID()}").toString

  def meta: Row = side("meta").head()

  def side(name: String): DataFrame =
    spark.read.parquet(new Path(root, name).toString)

  def file[T](name: String)(read: InputStream => T): T = {
    val in = fs.open(new Path(root, name))
    try read(in) finally in.close()
  }
}
