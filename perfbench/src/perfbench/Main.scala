package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.index.{GraphBuilder, Pq}

/** One JVM, one `local[N]` session, one closed-loop client.
  *
  * {{{
  *   perfbench.Main --workload <churn|dedup> --seed <n> --seconds <s>
  *                  --trace <0|1> --cores <n> --work-dir <dir>
  * }}}
  *
  * Warms up on a tiny instance of the workload, sets the full one up
  * several times (the median is `setup_s`), then runs ops until `seconds`
  * have passed. With `--trace 1` the set-ups are traced, then untraced
  * and traced ops alternate for twice `seconds`. The per-layer metrics
  * come from the traced set-ups and ops; the listeners are registered only
  * around them, and the time difference between neighbouring untraced and
  * traced ops is the tracing overhead.
  * Prints `perfbench:` lines for people and one `PERFBENCH_RESULT` JSON
  * line for `run.py`. */
object Main {
  /** A phase stops early after this many failed ops in a row. */
  val MaxConsecutiveFailures = 3

  final class Phase {
    val results = mutable.ArrayBuffer.empty[OpResult]
    def items: Double = results.map(_.items).sum
    def timedMs: Double = results.map(_.timedMs).sum
    def rate: Double = if (timedMs <= 0) 0.0 else items / (timedMs / 1000.0)
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    val workDir = new File(opts("work-dir"))
    val cores = opts("cores").toInt

    val spark = SparkSession.builder()
      .appName("perfbench")
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.local.dir", new File(workDir, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(workDir, "warehouse").getAbsolutePath)
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.setCheckpointDir(new File(workDir, "checkpoints").getAbsolutePath)

    val tracer = new Tracer(spark)
    val ctx = new Ctx(spark, seed, cores, workDir, tracer)
    def make(name: String, tiny: Boolean): Workload = name match {
      case "churn" => new ChurnWorkload(ctx, tiny)
      case "dedup" => new DedupWorkload(ctx, tiny)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val t0 = System.nanoTime()
    def say(s: String): Unit = println(f"perfbench: [${(System.nanoTime() - t0) / 1e9}%6.1fs] $s")

    var heapPeakMb = 0.0
    def heapCheckpoint(): Unit = {
      // a collection lets Spark's context cleaner drop the blocks of RDDs
      // no longer referenced (local checkpoints, persisted pairs); the pause
      // gives its thread time to do so before the collection that counts
      System.gc()
      Thread.sleep(300)
      System.gc()
      heapPeakMb = math.max(heapPeakMb, oldGenUsedBytes() / 1048576.0)
    }

    var opIndex = 0
    var attempted = 0
    var failed = 0
    var w: Workload = make(workload, tiny = true)
    def runOp(phase: Phase): Boolean = {
      attempted += 1
      val ok = try {
        val r = w.op(opIndex)
        phase.results += r
        say(f"op $opIndex ${r.latencyMs}%.1f ms${if (r.ok) "" else " FAILED"}")
        r.ok
      } catch {
        case e: Exception =>
          System.err.println(s"perfbench: op $opIndex failed: $e")
          e.printStackTrace()
          false
      }
      opIndex += 1
      if (!ok) failed += 1
      ok
    }

    // runs `step(k)` for k = 0, 1, ... until `limitS` have passed and k is
    // a multiple of `block`; a heap checkpoint after every op (outside its
    // timing), so the peak samples the same points in every run
    def runOps(limitS: Double, block: Int)(step: Int => Boolean): Unit = {
      val t0 = System.nanoTime()
      var k = 0
      var consecutive = 0
      def elapsedS = (System.nanoTime() - t0) / 1e9
      while ((elapsedS < limitS || k % block != 0) && consecutive < MaxConsecutiveFailures) {
        consecutive = if (step(k)) 0 else consecutive + 1
        heapCheckpoint()
        k += 1
      }
    }

    // ---- warm-up on the tiny workload, untimed: class loading, code
    // generation and JIT compilation happen here, not in a timed section
    w.setup()
    (0 until w.warmupOps).foreach(_ => runOp(new Phase))
    w.teardown()
    ctx.notes.clear()
    say("warm-up done")

    // ---- setup, repeated; the last one stays for the run ---------------
    w = make(workload, tiny = false)
    // a traced run also traces the set-ups (churn's is the bulk build)
    if (trace) tracer.start()
    val setupS = (0 until w.setupReps).map { r =>
      if (r > 0) w.teardown()
      Util.timed(w.setup())._2 / 1000.0
    }
    if (trace) tracer.stop()
    heapCheckpoint()
    say(s"setup_s reps=${setupS.map(x => f"$x%.3f").mkString(",")}")

    val timedPhase = new Phase
    val tracedPhase = if (!trace) {
      runOps(seconds, 1)(_ => runOp(timedPhase))
      None
    } else {
      // untraced and traced ops alternate in blocks U T T U for twice
      // `seconds`, so a slow drift of op times (JIT, machine load) cancels
      // out of the op pairs; the listeners are registered only around the
      // traced ops
      val em = graft.util.EngineMetrics.forSession(spark)
      def engine = Seq(em.sealedSegmentsSearched.value, em.adcScanNanos.value,
        em.graphTraversalNanos.value, em.sealedCandidates.value).map(_.toDouble)
      val traced = new Phase
      var engineDelta = Seq.fill(4)(0.0)
      runOps(2 * seconds, 4) { k =>
        if (k % 4 == 1 || k % 4 == 2) {
          val before = engine
          tracer.start()
          val ok = runOp(traced)
          tracer.stop()
          engineDelta = engineDelta.zip(engine.zip(before)).map { case (d, (a, b)) => d + a - b }
          ok
        } else runOp(timedPhase)
      }
      Some((traced, engineDelta))
    }
    heapCheckpoint()
    say(s"measured ops=${timedPhase.results.size}")
    val finalOk = try w.finish() catch {
      case e: Exception =>
        System.err.println(s"perfbench: final check failed: $e")
        e.printStackTrace()
        false
    }

    val ph = timedPhase
    val lat = ph.results.map(_.latencyMs).toArray.sorted
    val (tailMs, tailPct) = Stats.tail(lat)
    val quality = {
      val q = ph.results.map(_.quality).filterNot(_.isNaN)
      if (q.nonEmpty) Stats.median(q.toArray) else 0.0
    }
    val okFrac = 1.0 - failed.toDouble / math.max(1, attempted)
    val e2e = Seq(
      ("setup_s", Stats.median(setupS.toArray), "s"),
      ("items_per_s", ph.rate, "1/s"),
      ("op_ms_p50", Stats.median(lat), "ms"),
      ("op_ms_tail", tailMs, "ms"),
      ("answer_quality", quality, "fraction"),
      ("live_heap_peak_mb", heapPeakMb, "MB"),
      ("ok_op_frac", okFrac, "fraction"))

    // ---- the workload's own metric names, for people -------------------
    val writes = ph.results.map(_.writeMs).filterNot(_.isNaN).toArray.sorted
    val reads = ph.results.map(_.readMs).filterNot(_.isNaN).toArray.sorted
    val (readTail, readPct) = Stats.tail(reads)
    val named: Seq[(String, Double, String)] = (workload match {
      case "churn" => Seq(("build_vectors_per_s(setup)", w.setupItems / Stats.median(setupS.toArray), "1/s"),
        ("churn_cycles_per_s", ph.rate, "1/s"),
        ("churn_cycle_ms_p50", Stats.median(lat), "ms"),
        ("churn_query_ms_p50", Stats.median(reads), "ms"),
        (f"churn_query_ms_tail(p$readPct%.1f,n=${reads.length})", readTail, "ms"),
        (f"churn_cycle_ms_tail(p$tailPct%.1f,n=${lat.length})", tailMs, "ms"),
        ("churn_write_ms_p50", Stats.median(writes), "ms"),
        ("recall_at_10", quality, "fraction"),
        ("bytes_per_live_vector", ctx.notes.getOrElse("bytes_per_live_vector", 0.0), "B"))
      case _ => Seq(("dedup_docs_per_s", ph.rate, "1/s"),
        ("dedup_pass_ms_p50", Stats.median(lat), "ms"),
        ("dedup_cluster_match", quality, "fraction"))
    }) ++ Seq(("setup_s", Stats.median(setupS.toArray), "s"),
      ("live_heap_peak_mb", heapPeakMb, "MB"),
      ("failed_op_frac", failed.toDouble / math.max(1, attempted), "fraction"))
    named.foreach { case (n, v, u) => say(f"metric $n%-40s $v%14.4f $u") }
    ctx.notes.foreach { case (k, v) => say(f"count $k%-40s $v%14.1f") }
    say(s"ops attempted=$attempted failed=$failed measured=${ph.results.size} " +
      f"timed_s=${ph.timedMs / 1000}%.3f final_checks=${if (finalOk) "pass" else "FAIL"}")
    val rt = ManagementFactory.getRuntimeMXBean
    say(s"env local[$cores] heap_max_mb=${Runtime.getRuntime.maxMemory() >> 20} " +
      s"jdk=${System.getProperty("java.version")} vm=${rt.getVmName} spark=${spark.version}")

    val metrics: Seq[(String, Double, String)] = tracedPhase match {
      case None => e2e
      case Some((tp, engine)) =>
        val layers = Layers.collect(tracer, w, ctx, engine, cores)
        // each traced op against its untraced neighbour in the U T T U block
        val ratios = ph.results.zip(tp.results).map { case (u, t) => t.timedMs / u.timedMs }
        val overhead = (Stats.median(ratios.toArray) - 1.0) * 100.0
        say(f"tracing overhead ${overhead}%.2f%% (median of ${ratios.size} op pairs; untraced " +
          f"${ph.rate}%.3f vs traced ${tp.rate}%.3f ${w.itemName}/s)")
        val spansFile = new File(workDir.getParentFile, s"spans-$workload-$seed.jsonl")
        java.nio.file.Files.write(spansFile.toPath, tracer.spansJson.toSeq.asJava)
        say(s"spans ${tracer.spans.size} written to ${spansFile.getName}")
        val all = layers ++ Seq(("trace.overhead_pct", overhead, "%"),
          ("trace.spans", tracer.spans.size.toDouble, "count"))
        all.foreach { case (n, v, u) => say(f"layer $n%-44s $v%16.4f $u") }
        all
    }

    val correct = failed == 0 && finalOk
    val body = metrics.map { case (n, v, u) =>
      s"""${Json.str(n)}:{"value":${Json.num(v)},"unit":${Json.str(u)}}"""
    }.mkString(",")
    println(s"""PERFBENCH_RESULT {"correct":$correct,"attempted":$attempted,"failed":$failed,"metrics":{$body}}""")
    w.teardown()
    spark.stop()
  }

  /** Old-generation occupancy (after the caller's full GC). */
  private def oldGenUsedBytes(): Long = {
    val pools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
    if (pools.nonEmpty) pools.map(_.getUsage.getUsed).sum
    else ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
  }

  /** Direct per-segment kernel timings: PQ train, PQ encode, Vamana. */
  def kernelTimes(vecs: Array[Array[Float]]): (Double, Double, Double) =
    if (vecs.isEmpty) (0.0, 0.0, 0.0)
    else {
      val (cb, trainMs) = Util.timed(Pq.train(vecs.toIndexedSeq, Gen.Dim, 16, 256))
      val (_, encMs) = Util.timed(vecs.foreach(v => Pq.encode(cb, v)))
      val (_, vamanaMs) = Util.timed(GraphBuilder.buildVamanaGraph(vecs, 48, 128, 1.2))
      (trainMs, encMs * 1000.0 / vecs.length, vamanaMs)
    }
}

object Stats {
  def median(xs: Array[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** The highest percentile with at least ten samples beyond it, and that
    * percentile; with ten samples or fewer, the maximum (percentile 100). */
  def tail(sorted: Array[Double]): (Double, Double) = {
    val n = sorted.length
    if (n == 0) (0.0, 100.0)
    else if (n <= 10) (sorted(n - 1), 100.0)
    else (sorted(n - 11), 100.0 * (n - 10) / n)
  }
}
