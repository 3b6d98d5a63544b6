package graft.ingest

import java.nio.ByteBuffer
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import graft.api.{EndpointsSpec, ServingIndexSpec}
import graft.graph.{GraphSchema, LocalGraph, PropertyGraph}

/** [[graft.graph.GraphStore.save]]'s two writers leave the same files for the
  * same rows: the driver writer, given a [[LocalGraph]], and the DataFrame
  * writer, given local frames of those rows split one node batch per
  * partition. Which nodes `graph_entities` replies with follows the stored
  * node files (Spark scans a table's files largest first), so this pins the
  * layout that reply depends on. */
class WriterFidelitySpec extends SparkSpec {
  import AnalyzeSpec.{guard, newStore}

  /** The frames the DataFrame writer is given: one partition per non-empty
    * node batch, as the driver writer writes one file per batch. */
  private def frames(g: LocalGraph): PropertyGraph = {
    val batches = g.nodeBatches.filter(_.nonEmpty)
    val nodes = spark.sparkContext.parallelize(batches, math.max(1, batches.size))
    PropertyGraph(
      spark.createDataFrame(nodes.flatMap(identity), GraphSchema.nodeSchema),
      spark.createDataFrame(g.edges.asJava, GraphSchema.edgeSchema),
      nextIdHint = Some(g.nextId))
  }

  private type Tree = Map[String, Map[ByteBuffer, Int]]

  /** Every file under `root`, as the multiset of file contents in each
    * directory relative to it (file names aside). */
  private def files(root: Path): Tree = {
    val walk = Files.walk(root)
    try walk.iterator.asScala.filter(Files.isRegularFile(_)).toSeq
      .groupBy(f => root.relativize(f.getParent).toString)
      .map { case (dir, fs) => dir -> fs.groupMapReduce(f => ByteBuffer.wrap(Files.readAllBytes(f)))(_ => 1)(_ + _) }
    finally walk.close()
  }

  /** Both writers store `g` as the same files, the driver writer in no Spark
    * job; returns the driver store's files. */
  private def assertSameFiles(g: LocalGraph): Tree = {
    val viaDriver = newStore(spark, guard)
    assert(sparkJobs(viaDriver.save("r", g)) == 0)
    val viaFrames = newStore(spark, guard)
    viaFrames.save("r", frames(g))
    val driver = files(Paths.get(viaDriver.warehouse, "r"))
    val written = files(Paths.get(viaFrames.warehouse, "r"))
    def sizes(t: Tree) = t.map { case (d, bs) => d -> bs.toSeq.map { case (b, n) => (b.remaining, n) }.sorted }
    if (driver != written) fail(s"files differ: driver ${sizes(driver)} vs frames ${sizes(written)}")
    // one node file per non-empty batch (one for the schema when all are
    // empty), one edge file per type
    def parquet(dir: String): Int = new java.io.File(s"${viaDriver.warehouse}/r/$dir").list()
      .count(_.endsWith(".parquet"))
    assert(parquet("nodes") == math.max(1, g.nodeBatches.count(_.nonEmpty)))
    for (t <- g.edges.map(_.getString(2)).distinct)
      assert(parquet(s"edges/type=$t") == 1)
    driver
  }

  private def built(sources: Seq[Ingestor.SourceFile]): LocalGraph =
    LocalIngest.build(sources, guard).getOrElse(fail("the driver path must take this input"))

  test("the endpoint fixture") {
    assertSameFiles(built(EndpointsSpec.fixture))
  }

  test("the 631-node tree") {
    assertSameFiles(built(ServingIndexSpec.tree(30)))
  }

  test("the resolution tree") {
    assertSameFiles(built(AnalyzeSpec.resolutionTree))
  }

  test("a graph with no edges of any type") {
    val g = built(Seq(Ingestor.SourceFile("a.py", "x = 1"), Ingestor.SourceFile("b/c.py", "y = 2")))
    assert(g.edges.isEmpty && g.nodeBatches.map(_.size) == Seq(0, 2, 0))
    val stored = assertSameFiles(g)
    assert(stored.keySet == Set("", "nodes", "edges"))
  }

  test("the empty graph of a folder without supported files") {
    val g = built(Nil)
    assert(g.nodeBatches.forall(_.isEmpty) && g.edges.isEmpty && g.nextId == 0)
    assertSameFiles(g)
  }
}
