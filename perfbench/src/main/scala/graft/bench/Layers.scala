package graft.bench

/** Per-layer metrics from the traced passes. Every value is per pass (one
  * pipeline run, or one pass over the query slice), the median over the
  * traced passes of the run. */
object Layers {
  private val EtlLayers = Seq("stage", "map", "load", "graph")

  def metrics(
      passes: Seq[(Int, Seq[Span])],
      listener: SpanListener,
      setup: Map[String, Double],
      etlRuns: Seq[Map[String, Any]],
      planMs: Map[Int, Double],
      isEtl: Boolean,
      sliceLeaked: Double,
      sliceOrphans: Double): Map[String, Double] = {
    def med(xs: Seq[Double]) = Main.median(xs)
    val m = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    Seq("session_s", "warm_s").foreach(k => m(s"setup.$k") = setup(k))

    /** Sums over the spans of `layers` in one pass. A span nested in a span
      * of the same layer adds its work but not its wall time. */
    final case class Agg(wall: Double, work: Seq[SpanWork], idle: Double)
    def agg(spans: Seq[Span], layers: Set[String]): Agg = {
      val byId = spans.map(s => s.id -> s).toMap
      val mine = spans.filter(s => layers(s.layer))
      val top = mine.filterNot(s => byId.get(s.parent).exists(p => layers(p.layer)))
      val work = mine.map(s => listener.workOf(s.id))
      val intervals = work.flatMap(_.taskIntervals)
      Agg(top.map(_.wallS).sum, work,
        top.map(s => Tracer.idleSeconds(s.startMs, s.endMs, intervals)).sum)
    }
    def perPass(f: Seq[Span] => Double): Double = med(passes.map { case (_, s) => f(s) })
    def sum(w: Seq[SpanWork])(f: SpanWork => Long): Double = w.map(f).sum.toDouble
    def common(prefix: String, layers: Set[String]): Unit = {
      def a(s: Seq[Span]) = agg(s, layers)
      m(s"$prefix.wall_s") = perPass(a(_).wall)
      m(s"$prefix.jobs") = perPass(s => sum(a(s).work)(_.jobs))
      m(s"$prefix.stages") = perPass(s => sum(a(s).work)(_.stages))
      m(s"$prefix.tasks") = perPass(s => sum(a(s).work)(_.tasks))
      m(s"$prefix.task_s") = perPass(s => sum(a(s).work)(_.taskNs) / 1e9)
      m(s"$prefix.parallelism") = perPass { s =>
        val x = a(s); if (x.wall > 0) sum(x.work)(_.taskNs) / 1e9 / x.wall else 0.0
      }
      m(s"$prefix.idle_s") = perPass(a(_).idle)
      m(s"$prefix.gc_s") = perPass(s => sum(a(s).work)(_.gcMs) / 1e3)
      m(s"$prefix.input_bytes") = perPass(s => sum(a(s).work)(_.inputBytes))
      m(s"$prefix.output_bytes") = perPass(s => sum(a(s).work)(_.outputBytes))
      m(s"$prefix.shuffle_read_bytes") = perPass(s => sum(a(s).work)(_.shuffleReadBytes))
      m(s"$prefix.shuffle_write_bytes") = perPass(s => sum(a(s).work)(_.shuffleWriteBytes))
      m(s"$prefix.spill_bytes") = perPass(s => sum(a(s).work)(_.spillBytes))
    }
    EtlLayers.foreach(l => common(l, Set(l)))
    common("query", Set("query.plan", "query.exec"))
    m("stage.nodes_s") = perPass(_.filter(_.name.startsWith("saveNodes:")).map(_.wallS).sum)
    m("stage.edges_s") = perPass(_.filter(_.name.startsWith("saveEdges:")).map(_.wallS).sum)
    m("query.build_s") = perPass(agg(_, Set("query.build")).wall)
    m("query.build_jobs") = perPass(s => sum(agg(s, Set("query.build")).work)(_.jobs))
    m("query.plan_s") = med(passes.map { case (rep, _) => planMs.getOrElse(rep, 0.0) / 1e3 })
    m("query.exec_s") = perPass(agg(_, Set("query.exec")).wall)

    val traced = etlRuns.filter(_("traced") == true)
    def runMed(f: Map[String, Any] => Double): Double =
      if (traced.isEmpty) 0.0 else med(traced.map(f))
    def total(k: String)(r: Map[String, Any]): Double =
      r(k).asInstanceOf[Map[String, Long]].values.sum.toDouble
    def num(k: String)(r: Map[String, Any]): Double = r(k).toString.toDouble
    m("stage.rows_out") = runMed(r => num("staged_rows")(r))
    m("stage.files") = runMed(num("staged_files"))
    m("map.files_rewritten") = runMed(num("files_rewritten"))
    m("map.rows_rewritten") = runMed(num("rows_rewritten"))
    m("load.nodes") = runMed(total("loaded_nodes"))
    m("load.edges") = runMed(total("loaded_edges"))
    m("load.edges_dropped") = runMed(r => num("staged_edge_rows")(r) - total("loaded_edges")(r))
    m("graph.vertices") = runMed(num("vertices"))
    m("graph.edges") = runMed(num("graph_edges"))
    m("mem.cached_rdds_leaked") = if (isEtl) runMed(num("cached_rdds_leaked")) else sliceLeaked
    m("mem.orphan_temp_dirs") = if (isEtl) runMed(num("orphan_dirs")) else sliceOrphans
    m("trace.unattributed_jobs") = listener.unattributedJobs.toDouble
    m.toMap
  }
}
