package graft.bench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import graft.SparkEntry

/** One benchmark run in one JVM: set up, then repeat the
  * workload's pass until the time budget is spent, check the outputs, and
  * write everything measured to a JSON file. `run.py` turns that file into
  * the metrics line and runs the DuckDB side of the correctness checks.
  *
  *   Main --workload etl_pk|etl_remap|query_slice --data DIR --work DIR
  *        --out FILE --seconds N --trace 0|1 --cpus N
  */
object Main {
  private def arg(args: Map[String, String], k: String): String =
    args.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))

  /** The session `graft.Bench` uses, on `local[cpus]`, with Spark's scratch
    * and warehouse directories inside the run's work directory. */
  def session(cpus: Int, work: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "128k")
      .config("spark.ui.enabled", "false")
      .config("spark.cleaner.periodicGC.interval", "1min")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def loadAvg(): Double =
    try Files.readString(Paths.get("/proc/loadavg")).split("\\s+")(0).toDouble
    catch { case _: Throwable => -1.0 }

  private def children(dir: Path): Seq[Path] =
    if (!Files.isDirectory(dir)) Nil
    else { val s = Files.list(dir); try s.iterator().asScala.toList finally s.close() }

  private def bytesUnder(p: Path): Long =
    if (Files.isDirectory(p)) children(p).map(bytesUnder).sum
    else if (Files.isRegularFile(p)) Files.size(p) else 0L

  private def delete(p: Path): Unit = graft.etl.Context.deleteRecursively(p)

  /** The program stages some query inputs under this fixed directory. */
  private def stagedEntries(): Set[Path] =
    children(Paths.get("/tmp")).filter(_.getFileName.toString.startsWith("graft_")).toSet

  private[bench] def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else { val s = xs.sorted; val n = s.size; if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2 }

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = arg(args, "workload")
    require(Set("etl_pk", "etl_remap", "query_slice")(workload), s"unknown workload $workload")
    val data = Paths.get(arg(args, "data")).toAbsolutePath
    val work = Paths.get(arg(args, "work")).toAbsolutePath
    val seconds = arg(args, "seconds").toDouble
    val traced = arg(args, "trace") == "1"
    val cpus = arg(args, "cpus").toInt
    val isEtl = workload != "query_slice"
    val tables = data.resolve("tables").toString

    // fail-fast digest resolution and stale-staging sweep before any Spark work
    SparkEntry.initStaging()
    val loadStart = loadAvg()
    val stagedBefore = stagedEntries()
    val errors = mutable.ArrayBuffer.empty[String]
    val sliceNames = if (isEtl) Nil else Slice.names

    // ---- set-up, once: repeating it would cost a whole warm-up pipeline
    // run or slice pass, more than the per-run time budget can carry
    val t0 = System.nanoTime()
    val spark = session(cpus, work)
    val t1 = System.nanoTime()
    if (isEtl) {
      // one untimed pipeline run over the measured sources
      val out = work.resolve("warm")
      Etl.run(spark, new Tracer(spark.sparkContext), data.resolve("etl").toString, out,
        workload == "etl_remap", "warm")
      delete(out)
    } else {
      // the warm-up pass stages the slice's inputs and writes every result
      // once, for the oracle compare
      sliceNames.foreach { n =>
        try SparkEntry.queries(n)(spark, tables).write.mode("overwrite")
          .parquet(work.resolve("results").resolve(n).toString)
        catch { case e: Throwable => errors += s"warm:$n: $e" }
      }
    }
    val t2 = System.nanoTime()
    val setup = Map("session_s" -> (t1 - t0) / 1e9, "warm_s" -> (t2 - t1) / 1e9,
      "total_s" -> (t2 - t0) / 1e9)
    val sc = spark.sparkContext
    val tracer = new Tracer(sc)
    val stagedBytes =
      if (isEtl) 0L
      else (stagedEntries() -- stagedBefore).toSeq.map(bytesUnder).sum + bytesUnder(work.resolve("warehouse"))
    val tmpDir = Paths.get(System.getProperty("java.io.tmpdir"))
    val tmpBefore = children(tmpDir).toSet
    val writtenBefore = bytesUnder(tmpDir) + bytesUnder(work.resolve("warehouse"))
    val persistedBefore = sc.getPersistentRDDs.size

    // ---- measured passes: every pass untraced unless tracing, in which
    // case passes run untraced, traced, traced, untraced, ... so that both
    // kinds see the same share of a still-warming JVM
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
    val etlRuns = mutable.ArrayBuffer.empty[Map[String, Any]]
    val passSpans = mutable.ArrayBuffer.empty[(Int, Seq[Span])]
    val planMs = mutable.Map.empty[Int, Double]
    // at least two passes, so each operation's fastest repetition can be
    // taken as in graft.Bench; traced runs need two of each kind
    val minPasses = if (traced) 4 else 2
    val tMeasure = System.nanoTime()
    var rep = 0
    while (rep < minPasses || (System.nanoTime() - tMeasure) / 1e9 < seconds) {
      val on = traced && (rep % 4 == 1 || rep % 4 == 2)
      if (on) tracer.enable() else tracer.disable()
      val spansBefore = tracer.spans.size
      val runId = s"$workload-$rep"
      if (isEtl) {
        val out = work.resolve(s"etl-$rep")
        try {
          val r = Etl.run(spark, tracer, data.resolve("etl").toString, out,
            workload == "etl_remap", runId)
          passes += Map("rep" -> rep, "traced" -> on, "wall_s" -> r.wallS, "ok" -> true)
          r.calls.foreach { case (n, s) => ops += Map("rep" -> rep, "traced" -> on, "name" -> n, "s" -> s) }
          etlRuns += Map("rep" -> rep, "traced" -> on, "catalog_nodes" -> r.catalogNodes,
            "loaded_nodes" -> r.loadedNodes, "loaded_edges" -> r.loadedEdges,
            "vertices" -> r.vertices, "graph_edges" -> r.graphEdges,
            "staged_bytes" -> r.stagedBytes, "written_bytes" -> r.writtenBytes,
            "staged_files" -> r.stagedFiles, "staged_rows" -> r.stagedRows,
            "staged_edge_rows" -> r.stagedEdgeRows, "files_rewritten" -> r.filesRewritten, "rows_rewritten" -> r.rowsRewritten,
            "cached_rdds_leaked" -> r.cachedRddsLeaked, "orphan_dirs" -> r.orphanDirs)
        } catch { case e: Throwable =>
          errors += s"$runId: $e"
          passes += Map("rep" -> rep, "traced" -> on, "wall_s" -> null, "ok" -> false)
        } finally delete(out)
      } else {
        var total = 0.0
        var ok = true
        var plan = 0.0
        System.gc() // outside the timers
        sliceNames.foreach { n =>
          try {
            val t = Slice.run(spark, tracer, n, tables, s"$runId:$n")
            total += t.totalS
            plan += t.planMs
            ops += Map("rep" -> rep, "traced" -> on, "name" -> n, "s" -> t.totalS, "build_s" -> t.buildS)
          } catch { case e: Throwable =>
            ok = false
            errors += s"$runId:$n: $e"
            ops += Map("rep" -> rep, "traced" -> on, "name" -> n, "s" -> null)
          }
        }
        planMs(rep) = plan
        passes += Map("rep" -> rep, "traced" -> on, "wall_s" -> total, "ok" -> ok)
      }
      tracer.drain()
      if (on) passSpans += rep -> tracer.spans.slice(spansBefore, tracer.spans.size).toSeq
      rep += 1
    }
    tracer.disable()
    val nPasses = passes.size

    // ---- untimed: leak accounting
    val writtenBytes = stagedBytes +
      math.max(0L, bytesUnder(tmpDir) + bytesUnder(work.resolve("warehouse")) - writtenBefore)
    val sliceLeaked = (sc.getPersistentRDDs.size - persistedBefore).toDouble / nPasses
    val sliceOrphans = (children(tmpDir).toSet -- tmpBefore).count(Files.isDirectory(_)).toDouble / nPasses
    // the least of three forced collections, each given time for the
    // context cleaner to release what the previous one made unreachable
    val heapMb = (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(300)
      java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }.min

    val layers: Map[String, Double] =
      if (!traced) Map.empty
      else Layers.metrics(passSpans.toSeq, tracer.listener, setup, etlRuns.toSeq,
        planMs.toMap, isEtl, sliceLeaked, sliceOrphans)

    val record = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "traced" -> traced, "cpus" -> cpus,
      "loadavg_start" -> loadStart, "loadavg_end" -> loadAvg(),
      "setup" -> setup, "slice" -> sliceNames,
      "passes" -> passes.toSeq, "ops" -> ops.toSeq, "etl_runs" -> etlRuns.toSeq,
      "oracle_sql" -> SparkEntry.oracleSql.filter { case (n, _) => sliceNames.contains(n) },
      "staged_bytes" -> stagedBytes, "written_bytes" -> writtenBytes,
      "heap_after_gc_mb" -> heapMb, "errors" -> errors.toSeq,
      "layers" -> layers,
      "spans" -> passSpans.flatMap(_._2).map(s => Map(
        "id" -> s.id, "run" -> s.runId, "layer" -> s.layer, "name" -> s.name,
        "parent" -> s.parent, "start_ms" -> s.startMs, "end_ms" -> s.endMs, "wall_s" -> s.wallS)))
    Files.writeString(Paths.get(arg(args, "out")),
      org.json4s.jackson.Serialization.write(record)(org.json4s.DefaultFormats))
    spark.stop()
  }
}
