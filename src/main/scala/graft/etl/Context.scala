package graft.etl

import java.nio.file.{Files, Paths, Path, StandardCopyOption}
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Normalize

/** Shared mutable state for one ETL run (the reference's singleton
  * `StoreInfo`, graph_etl/utils.py:44-190): catalog, registered ID
  * mappings, accumulated stats, resume logs. Driver-side only. */
final class StoreInfo(val outputDir: String, val spark: SparkSession) {
  var catalog: Catalog = Catalog()
  /** "{Label}:{prop}" -> mapping DataFrame(old_value, new_value) (utils.py:77-78). */
  val mappings: mutable.Map[String, DataFrame] = mutable.LinkedHashMap.empty
  var callbacks: Seq[SchemaCallback] = Nil
  var filter: Option[GraphFilter] = None
  val stats: mutable.Map[String, Long] = mutable.LinkedHashMap.empty

  def nodesDir: Path = Paths.get(outputDir, "nodes")
  def edgesDir: Path = Paths.get(outputDir, "edges")
  def configsDir: Path = Paths.get(outputDir, "configs")
  def configsPath: Path = configsDir.resolve("configs.json")

  def initDirs(): Unit =
    Seq(nodesDir, edgesDir, configsDir).foreach(Files.createDirectories(_))

  def persistCatalog(): Unit = {
    Files.createDirectories(configsDir)
    Files.writeString(configsPath, Catalog.toJson(catalog))
  }

  def loadCatalog(): Unit =
    if (Files.exists(configsPath))
      catalog = Catalog.fromJson(Files.readString(configsPath))

  // -- append-only resume logs (utils.py:26-42, 96-97) -------------------
  private def logPath(kind: String): Path = Paths.get(outputDir, s"log_$kind.txt")
  def logAppend(kind: String, entry: String): Unit = {
    Files.createDirectories(Paths.get(outputDir))
    Files.writeString(logPath(kind),
      entry + "\n",
      java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.APPEND)
  }
  def logEntries(kind: String): Set[String] = {
    val p = logPath(kind)
    if (Files.exists(p))
      scala.jdk.CollectionConverters.ListHasAsScala(Files.readAllLines(p)).asScala.toSet
    else Set.empty
  }
  def clearLogs(): Unit =
    Seq("parser", "mapper", "loader").foreach(k => Files.deleteIfExists(logPath(k)))
}

/** Per-parser staging context — the Spark re-expression of
  * graph_etl/context.py. `saveNodes`/`saveEdges` run the normalization
  * chain lazily and materialize it once, at the chunked CSV write; the
  * catalog is updated from arithmetic on the total count (no per-chunk
  * driver collect — SURVEY §2.5 A3's `collect` replaced).
  *
  * Chunk-file layout matches the reference:
  *   nodes: FILE_{uuid}_{label}_{n}.csv         (context.py:149)
  *   edges: FILE_{uuid}_{start}{TYPE}{end}_{n}.csv (context.py:244)
  * `;`-separated, header, arrays flattened with `|`.
  */
final class Context(
    val store: StoreInfo,
    val metadatas: Map[String, String],
    val uuid: String,
    nodeChunkSize: Long = Context.NodeChunkSize,
    edgeChunkSize: Long = Context.EdgeChunkSize) {

  // per-context monotonically increasing chunk counters so file suffixes
  // stay unique across multiple save_* calls (context.py:15-16,155,250)
  private var lastNodeChunk: Long = 0L
  private var lastEdgeChunk: Long = 0L

  /** Normalize, chunk, and stage a node table (context.py:61-155). */
  def saveNodes(
      nodes: DataFrame,
      label: String,
      primaryKey: String = "id",
      constraints: Seq[String] = Nil,
      indexs: Seq[String] = Nil): Unit = {
    // primary key is always a uniqueness constraint (context.py:134 —
    // without the reference's caller-visible list mutation, SURVEY §2.12.7)
    val allConstraints = (constraints :+ primaryKey).distinct.toList
    store.callbacks.foreach(_.onSaveNodes(
      label, Catalog.schemaTypes(nodes.schema), metadatas, primaryKey, allConstraints, indexs))

    val normalized = Normalize.normalize(nodes, Seq(primaryKey))
    val written = Context.writeChunkedCsv(
      normalized, store.nodesDir, n => s"FILE_${uuid}_${label}_$n.csv",
      nodeChunkSize, lastNodeChunk)
    lastNodeChunk += written.size

    // catalog types come from the PRE-flatten schema (context.py:112 runs
    // before the normalize chain): array columns are recorded List(Utf8)
    // so the Neo4j/TigerGraph loaders emit arraySep/LIST<STRING> handling
    val propTypes = Catalog.schemaTypes(nodes.schema)
    written.foreach { case (fname, count) =>
      store.catalog = store.catalog.withNodeFile(
        label, primaryKey, allConstraints, indexs.toList, propTypes, fname, metadatas, count)
    }
    store.stats("nodes") = store.stats.getOrElse("nodes", 0L) + written.map(_._2).sum
  }

  /** Normalize, chunk, and stage an edge table (context.py:157-250).
    * `startId`/`endId` address endpoints as `"{Label}:{property}"`
    * (split at context.py:210-211); the frame must carry `start`/`end`. */
  def saveEdges(
      edges: DataFrame,
      edgeType: String,
      startId: String,
      endId: String,
      ignoreMapping: Boolean = false): Unit = {
    // fail fast: the mapping passes destructure "{Label}:{property}" — a
    // colonless spec would otherwise crash mid-mapping after staging
    require(startId.contains(":") && endId.contains(":"),
      s"""saveEdges($edgeType): endpoint specs must be "Label:property", got startId="$startId", endId="$endId"""")
    val startLabel = startId.split(":")(0)
    val endLabel = endId.split(":")(0)
    store.callbacks.foreach(_.onSaveEdges(
      edgeType, startLabel, endLabel, metadatas, Catalog.schemaTypes(edges.schema)))

    val normalized = Normalize.normalize(edges, Seq("start", "end"))
    val written = Context.writeChunkedCsv(
      normalized, store.edgesDir,
      n => s"FILE_${uuid}_${startLabel}$edgeType${endLabel}_$n.csv",
      edgeChunkSize, lastEdgeChunk)
    lastEdgeChunk += written.size

    // pre-flatten schema, like saveNodes (context.py:222)
    val propTypes = Catalog.schemaTypes(edges.schema)
    written.foreach { case (fname, count) =>
      store.catalog = store.catalog.withEdgeFile(
        edgeType, fname, startId, endId, propTypes, ignoreMapping, metadatas, count)
    }
    store.stats("edges") = store.stats.getOrElse("edges", 0L) + written.map(_._2).sum
  }

  /** Register an explicit ID mapping for `idToMap` = `"{Label}:{prop}"`
    * (context.py:18-59; stored at utils.py:77-78). The frame must carry
    * `old_value`/`new_value`; duplicate `old_value` rows are kept — they
    * fan out at join time and collapse in the post-mapping dedup, matching
    * the reference (SURVEY §2.12.5). */
  def mapIds(mapping: DataFrame, idToMap: String): Unit = {
    require(mapping.columns.contains("old_value") && mapping.columns.contains("new_value"),
      s"mapIds($idToMap): mapping must have columns old_value/new_value, got ${mapping.columns.mkString(",")}")
    store.mappings(idToMap) = mapping.select(col("old_value"), col("new_value"))
  }
}

object Context {
  val NodeChunkSize = 200000L // context.py:127
  val EdgeChunkSize = 500000L // context.py:231

  /** Stage `df` as `;`-separated CSV files of at most `chunkSize` rows with
    * deterministic sequential chunk membership, one file per chunk, named by
    * `fileName(chunkIndex)`. Returns (fileName, rowCount) per file.
    *
    * Single distributed pass: zipWithIndex assigns contiguous row ids
    * without a shuffle; `repartition(n, chunk)` co-locates each chunk in
    * exactly one task so `partitionBy("chunk")` emits exactly one part file
    * per chunk; files are then renamed into the reference layout. Per-file
    * counts come from arithmetic on the total (ids are contiguous), not a
    * per-chunk collect.
    */
  def writeChunkedCsv(
      df: DataFrame,
      dir: Path,
      fileName: Long => String,
      chunkSize: Long,
      startChunk: Long): Seq[(String, Long)] = {
    // persist the INPUT before withChunkIds: zipWithIndex's partition-size
    // job runs eagerly at construction — before any cache of the chunked
    // frame could fill — so without this the whole normalize plan executed
    // twice per staging call (once for sizes, once for the count/write)
    val input = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val chunked = Normalize.withChunkIds(input, chunkSize).cache()
    try {
      val total = chunked.count()
      if (total == 0) return Nil
      val nChunks = ((total + chunkSize - 1) / chunkSize).toInt

      val tmp = Files.createTempDirectory(dir, ".staging")
      try {
        chunked
          .repartition(nChunks, col("chunk"))
          .write
          .partitionBy("chunk")
          .option("sep", ";")
          .option("header", "true")
          .mode("overwrite")
          .csv(tmp.toString)

        (0 until nChunks).map { i =>
          val chunkDir = tmp.resolve(s"chunk=$i")
          val part = listDir(chunkDir).find(_.getFileName.toString.startsWith("part-"))
            .getOrElse(throw new IllegalStateException(s"no part file for chunk $i"))
          val name = fileName(startChunk + i)
          Files.move(part, dir.resolve(name), StandardCopyOption.REPLACE_EXISTING)
          val count = if (i < nChunks - 1) chunkSize else total - chunkSize * (nChunks - 1)
          (name, count)
        }
      } finally deleteRecursively(tmp) // also on failure: no orphaned .staging dirs
    } finally { chunked.unpersist(); input.unpersist() }
  }

  /** Directory listing that closes its stream (a bare `Files.list` leaks a
    * directory fd until finalization). */
  private[etl] def listDir(p: Path): Seq[Path] = {
    val s = Files.list(p)
    try scala.jdk.CollectionConverters.ListHasAsScala(
      s.collect(java.util.stream.Collectors.toList[Path])).asScala.toSeq
    finally s.close()
  }

  private[graft] def deleteRecursively(p: Path): Unit = {
    if (Files.isDirectory(p)) listDir(p).foreach(deleteRecursively)
    Files.deleteIfExists(p)
  }
}
