package graft.bench

import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import graft.etl.{GraphEtl, SparkGraphLoader}
import graft.graph.GraphOps

/** The paper's workflow over the generated TPC-H-like sources: a parser
  * stages five node labels and three edge types, the mapping pass rewrites
  * endpoints, the staged graph is loaded with [[SparkGraphLoader]] and
  * materialized with [[GraphOps.toGraphX]].
  *
  * `remap = false` addresses every endpoint by primary key, so the mapping
  * pass has nothing to do. `remap = true` addresses PLACED_BY and
  * SUPPLIED_BY by name (automatic pk resolution) and gives CONTAINS legacy
  * order ids that an explicit `mapIds` maps back. */
object Etl {
  final case class NodeSpec(label: String, file: String, pk: String)
  final case class EdgeSpec(edgeType: String, file: String, start: String, end: String)

  val Nodes = Seq(
    NodeSpec("Customer", "customer", "c_custkey"),
    NodeSpec("Supplier", "supplier", "s_suppkey"),
    NodeSpec("Part", "part", "p_partkey"),
    NodeSpec("Order", "orders", "o_orderkey"),
    NodeSpec("Nation", "nation", "n_nationkey"))

  def edges(remap: Boolean): Seq[EdgeSpec] =
    if (!remap) Seq(
      EdgeSpec("PLACED_BY", "placed_by", "Order:o_orderkey", "Customer:c_custkey"),
      EdgeSpec("CONTAINS", "contains", "Order:o_orderkey", "Part:p_partkey"),
      EdgeSpec("SUPPLIED_BY", "supplied_by", "Part:p_partkey", "Supplier:s_suppkey"))
    else Seq(
      EdgeSpec("PLACED_BY", "placed_by_name", "Order:o_orderkey", "Customer:c_name"),
      EdgeSpec("CONTAINS", "contains_legacy", "Order:o_orderkey", "Part:p_partkey"),
      EdgeSpec("SUPPLIED_BY", "supplied_by_name", "Part:p_partkey", "Supplier:s_name"))

  /** One pipeline run: its wall time, the latency of each API call, and
    * what the correctness checks and the leak accounting need. */
  final case class Run(
      wallS: Double,
      calls: Seq[(String, Double)],
      catalogNodes: Map[String, Long],
      loadedNodes: Map[String, Long],
      loadedEdges: Map[String, Long],
      vertices: Long,
      graphEdges: Long,
      stagedBytes: Long,
      writtenBytes: Long,
      stagedFiles: Int,
      stagedRows: Long,
      stagedEdgeRows: Long,
      filesRewritten: Int,
      rowsRewritten: Long,
      cachedRddsLeaked: Int,
      orphanDirs: Int)

  /** Regular files under `dir` by name, with the identity of their inode
    * so a file replaced by a rewrite shows as changed. */
  private def files(dir: Path): Map[String, (Long, AnyRef)] =
    if (!Files.isDirectory(dir)) Map.empty
    else {
      val s = Files.list(dir)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map { p =>
        val a = Files.readAttributes(p, classOf[java.nio.file.attribute.BasicFileAttributes])
        p.getFileName.toString -> (a.size(), a.fileKey())
      }.toMap
      finally s.close()
    }

  private def dirsNamed(dir: Path, prefixes: Seq[String]): Int =
    if (!Files.isDirectory(dir)) 0
    else {
      val s = Files.list(dir)
      try s.iterator().asScala.count(p => Files.isDirectory(p) &&
        prefixes.exists(p.getFileName.toString.startsWith))
      finally s.close()
    }

  def run(spark: SparkSession, tracer: Tracer, src: String, out: Path, remap: Boolean,
      runId: String): Run = {
    val sc = spark.sparkContext
    val persistedBefore = sc.getPersistentRDDs.keySet
    val etl = new GraphEtl(spark, outputDir = out.toString)
    val calls = mutable.ArrayBuffer.empty[(String, Double)]
    def call[T](layer: String, name: String)(body: => T): T = {
      val t0 = System.nanoTime()
      val r = tracer.span(layer, name, runId)(body)
      calls += name -> (System.nanoTime() - t0) / 1e9
      r
    }
    def read(file: String) = spark.read.parquet(s"$src/$file.parquet")

    etl.parser("tpch") { ctx =>
      Nodes.foreach { n =>
        call("stage", s"saveNodes:${n.label}")(ctx.saveNodes(read(n.file), n.label, n.pk))
      }
      if (remap) ctx.mapIds(read("order_id_map"), "Order:o_orderkey")
      edges(remap).foreach { e =>
        call("stage", s"saveEdges:${e.edgeType}")(
          ctx.saveEdges(read(e.file), e.edgeType, e.start, e.end))
      }
    }
    val t0 = System.nanoTime()
    def rows(c: graft.etl.Catalog) = (c.nodes.values.flatMap(_.files.values.map(_.count)).sum,
      c.edges.values.flatMap(_.values.map(_.count)).sum)
    val (graph, staged, stagedRows) = tracer.span("pipeline", "pipeline", runId) {
      tracer.span("stage", "parse", runId)(etl.parse(useMapper = false))
      val staged = files(etl.store.nodesDir) ++ files(etl.store.edgesDir)
      val stagedRows = rows(etl.store.catalog)
      call("map", "mapProperties")(etl.mapProperties())
      val loader = new SparkGraphLoader(spark)
      call("load", "load")(etl.load(loader))
      val graph = call("graph", "toGraphX")(GraphOps.toGraphX(loader.nodes.get, loader.edges.get))
      (graph, staged, stagedRows)
    }
    val wallS = (System.nanoTime() - t0) / 1e9

    // untimed from here on: accounting and checks
    val edgesNow = files(etl.store.edgesDir)
    val finalFiles = files(etl.store.nodesDir) ++ edgesNow
    val rewritten = edgesNow.filter { case (name, (_, key)) =>
      staged.get(name).forall(_._2 != key)
    }
    val rowsRewritten = etl.store.catalog.edges.values.flatten
      .collect { case (name, cfg) if rewritten.contains(name) => cfg.count }.sum
    val catalogNodes = etl.store.catalog.nodes.map { case (label, cfg) =>
      label -> cfg.files.values.map(_.count).sum
    }
    def stat(prefix: String) = etl.store.stats.collect {
      case (k, v) if k.startsWith(prefix) => k.stripPrefix(prefix) -> v
    }.toMap
    val (vertices, graphEdges) = tracer.span("check", "graph-counts", runId) {
      (graph.numVertices, graph.numEdges)
    }
    graph.unpersist(blocking = true)
    val leaked = (sc.getPersistentRDDs.keySet -- persistedBefore).size
    val orphans = Seq(etl.store.nodesDir, etl.store.edgesDir)
      .map(dirsNamed(_, Seq(".staging", ".rewrite"))).sum
    Run(
      wallS = wallS,
      calls = calls.toSeq,
      catalogNodes = catalogNodes,
      loadedNodes = stat("loaded_nodes_"),
      loadedEdges = stat("loaded_edges_"),
      vertices = vertices,
      graphEdges = graphEdges,
      stagedBytes = finalFiles.values.map(_._1).sum,
      writtenBytes = staged.values.map(_._1).sum + rewritten.values.map(_._1).sum,
      stagedFiles = staged.size,
      stagedRows = stagedRows._1 + stagedRows._2,
      stagedEdgeRows = rows(etl.store.catalog)._2,
      filesRewritten = rewritten.size,
      rowsRewritten = rowsRewritten,
      cachedRddsLeaked = leaked,
      orphanDirs = orphans)
  }
}
