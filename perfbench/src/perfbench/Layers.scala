package perfbench

/** Per-layer metrics of a traced phase. Every run reports every name;
  * a layer the workload never calls reads 0. Per-call figures are means
  * over the calls of the traced phase. */
object Layers {
  /** Leaf spans: one per call into an engine layer. */
  val SpanNames = Seq("index.ingest", "index.seal", "index.search", "maintenance.delete",
    "maintenance.sweep", "pipeline.dedup.pairs", "pipeline.dedup.clusters")

  def collect(
      tr: Tracer,
      w: Workload,
      ctx: Ctx,
      engine: Seq[Double],
      cores: Int): Seq[(String, Double, String)] = {
    val out = Seq.newBuilder[(String, Double, String)]
    def put(n: String, v: Double, u: String): Unit = out += ((n, if (v.isNaN) 0.0 else v, u))
    def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    def perCall(name: String)(f: Span => Double): Double = mean(tr.named(name).map(f))
    def stages(name: String): Seq[StageRec] = tr.named(name).flatMap(tr.stagesOf)
    def calls(name: String): Double = math.max(1, tr.named(name).size).toDouble

    // ingest
    put("index.ingest.ms", perCall("index.ingest")(_.ms), "ms")
    put("index.ingest.rows", perCall("index.ingest")(_.attrs.getOrElse("rows", 0.0)), "count")
    put("index.ingest.bytes_written", stages("index.ingest").map(_.outputBytes).sum / calls("index.ingest"), "B")
    put("index.ingest.driver_gap_ms", perCall("index.ingest")(tr.driverGapMs), "ms")

    // seal: parallel efficiency of the stage that built the segments (the
    // one holding the longest task: one task builds whole segments)
    val seals = tr.named("index.seal")
    val effs = seals.flatMap { s =>
      val segs = s.attrs.getOrElse("segments", 0.0)
      val st = tr.stagesOf(s)
      if (segs < 2 || st.isEmpty) None // one segment has nothing to spread
      else {
        val main = st.maxBy(_.maxTaskMs)
        if (main.wallMs <= 0) None
        else Some(main.runMs.toDouble / (main.wallMs * math.min(cores.toDouble, segs)))
      }
    }
    put("index.seal.ms", perCall("index.seal")(_.ms), "ms")
    put("index.seal.segments", perCall("index.seal")(_.attrs.getOrElse("segments", 0.0)), "count")
    put("index.seal.parallel_eff", mean(effs), "ratio")

    // direct kernel self-times on one segment of the same data
    val (trainMs, encodeUs, vamanaMs) = Main.kernelTimes(w.oneSegment)
    put("index.pq.train_ms", trainMs, "ms")
    put("index.pq.encode_us", encodeUs, "us")
    put("index.graph.vamana_ms", vamanaMs, "ms")

    // search
    val searches = tr.named("index.search")
    val queries = searches.map(_.attrs.getOrElse("queries", 0.0)).sum
    val rerank = tr.rerank.rows.get().toDouble
    put("index.search.ms", perCall("index.search")(_.ms), "ms")
    put("index.search.driver_gap_ms", perCall("index.search")(tr.driverGapMs), "ms")
    put("index.search.jobs", perCall("index.search")(s => tr.jobsOf(s).size.toDouble), "count")
    put("index.search.tasks", perCall("index.search")(s => tr.stagesOf(s).map(_.tasks).sum.toDouble), "count")
    put("index.search.input_bytes", stages("index.search").map(_.inputBytes).sum / calls("index.search"), "B")
    put("index.search.shuffle_bytes", stages("index.search").map(_.shuffleWrite).sum / calls("index.search"), "B")
    put("index.search.rerank_rows", rerank / calls("index.search"), "count")
    put("index.search.rerank_per_result", if (queries > 0) rerank / (queries * Util.K) else 0.0, "ratio")

    // per-(query, sealed segment) kernel, from EngineMetrics deltas
    val Seq(segCalls, adcNs, travNs, cands) = engine
    def perSegCall(v: Double): Double = if (segCalls > 0) v / segCalls else 0.0
    put("index.segment_search.calls_per_query", if (queries > 0) segCalls / queries else 0.0, "count")
    put("index.segment_search.adc_ns_per_call", perSegCall(adcNs), "ns")
    put("index.segment_search.traversal_ns_per_call", perSegCall(travNs), "ns")
    put("index.segment_search.candidates_per_call", perSegCall(cands), "count")

    // maintenance: a sweep's time splits at its first job submitted from
    // compactSegments (jobs AQE submits from its own threads carry no
    // caller stack, but each compaction starts with a plain one)
    val sweeps = tr.named("maintenance.sweep")
    val compactMs = sweeps.map { s =>
      tr.jobsOf(s).filter(_.callSite.contains("compactSegments")).map(_.startMs)
        .minOption.map(t => math.max(0.0, (s.endMs - t).toDouble)).getOrElse(0.0)
    }
    val cycles = tr.named("index.search").size.max(1).toDouble
    put("maintenance.delete_ms", perCall("maintenance.delete")(_.ms), "ms")
    put("maintenance.vacuum_ms", mean(sweeps.zip(compactMs).map { case (s, c) => s.ms - c }), "ms")
    put("maintenance.compact_ms", mean(compactMs), "ms")
    put("maintenance.bytes_rewritten",
      (stages("maintenance.delete") ++ stages("maintenance.sweep")).map(_.outputBytes).sum / cycles, "B")
    put("maintenance.rows_removed", perCall("maintenance.sweep")(_.attrs.getOrElse("rows_removed", 0.0)), "count")
    put("maintenance.segments_vacuumed", perCall("maintenance.sweep")(_.attrs.getOrElse("vacuumed", 0.0)), "count")
    put("maintenance.compactions", perCall("maintenance.sweep")(_.attrs.getOrElse("compactions", 0.0)), "count")

    // storage
    put("index.store.files_per_segment", ctx.notes.getOrElse("files_per_segment", 0.0), "count")
    put("index.store.bytes_per_live_vector", ctx.notes.getOrElse("bytes_per_live_vector", 0.0), "B")

    // dedup pipeline, per pass
    val pairs = tr.named("pipeline.dedup.pairs")
    val clusters = tr.named("pipeline.dedup.clusters")
    val dedupSpans = pairs ++ clusters
    val passes = math.max(1, pairs.size).toDouble
    put("pipeline.dedup.pairs_ms", perCall("pipeline.dedup.pairs")(_.ms), "ms")
    put("pipeline.dedup.candidate_pairs", perCall("pipeline.dedup.pairs")(_.attrs.getOrElse("pairs", 0.0)), "count")
    put("pipeline.dedup.clusters_ms", perCall("pipeline.dedup.clusters")(_.ms), "ms")
    put("pipeline.dedup.jobs", dedupSpans.map(s => tr.jobsOf(s).size).sum / passes, "count")
    put("pipeline.dedup.tasks", dedupSpans.flatMap(tr.stagesOf).map(_.tasks).sum / passes, "count")
    put("pipeline.dedup.driver_gap_ms", dedupSpans.map(tr.driverGapMs).sum / passes, "ms")

    // Spark and JVM figures per span, attributed through job groups
    SpanNames.foreach { name =>
      val ss = tr.named(name)
      val st = ss.flatMap(tr.stagesOf)
      val n = math.max(1, ss.size).toDouble
      val p = s"spark.$name"
      put(s"$p.jobs", ss.map(s => tr.jobsOf(s).size).sum / n, "count")
      put(s"$p.stages", st.size / n, "count")
      put(s"$p.tasks", st.map(_.tasks).sum / n, "count")
      put(s"$p.exec_run_ms", st.map(_.runMs).sum / n, "ms")
      put(s"$p.exec_cpu_ms", st.map(_.cpuNs).sum / 1e6 / n, "ms")
      put(s"$p.exec_gc_ms", st.map(_.gcMs).sum / n, "ms")
      put(s"$p.shuffle_read_bytes", st.map(_.shuffleRead).sum / n, "B")
      put(s"$p.shuffle_write_bytes", st.map(_.shuffleWrite).sum / n, "B")
      put(s"$p.spill_bytes", st.map(_.spill).sum / n, "B")
      put(s"$p.driver_gap_ms", ss.map(tr.driverGapMs).sum / n, "ms")
      put(s"jvm.$name.gc_ms", ss.map(tr.selfGcMs).sum / n, "ms")
    }
    out.result()
  }
}
