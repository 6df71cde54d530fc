package perfbench

import java.io.File
import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.core.{IndexMeta, MaintenancePolicy, SearchParams, SegmentState}
import graft.index.{IndexStore, Search, SegmentedIndex}
import graft.maintenance.Maintenance
import graft.pipeline.Dedup

/** What one operation of a workload reports to the harness.
  *
  * @param items     work completed (cycles or docs)
  * @param timedMs   time spent inside calls into the engine
  * @param latencyMs the op's latency sample (the timed part of the op)
  * @param ok        every output check of the op passed
  * @param quality   answer quality of the op (recall or cluster match), NaN if none
  * @param writeMs   time of the op's writes (churn: addAll + delete), NaN if none
  * @param readMs    time of the op's query in a mixed op (churn), NaN if none */
final case class OpResult(items: Double, timedMs: Double, latencyMs: Double, ok: Boolean,
    quality: Double = Double.NaN, writeMs: Double = Double.NaN, readMs: Double = Double.NaN)

/** Run-wide state shared by the harness and the workload. */
final class Ctx(val spark: SparkSession, val seed: Long, val cores: Int,
    val workDir: File, val tracer: Tracer) {
  /** Named figures printed beside the result (counts of the path taken,
    * the workload's own metric names). */
  val notes = mutable.LinkedHashMap.empty[String, Double]
  def add(key: String, v: Double): Unit = notes(key) = notes.getOrElse(key, 0.0) + v
  private var dirSeq = 0
  def freshDir(tag: String): String = {
    dirSeq += 1
    new File(workDir, s"$tag-$dirSeq").getAbsolutePath
  }
}

object Util {
  /** Maintenance decisions read this clock, never the wall clock: a fixed
    * start far past any real creation time, advanced by the workload. */
  val ClockStartMs = 4102444800000L // 2100-01-01

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e6)
  }

  /** HeavyBench's index parameters: PQ 16×256, Vamana degree 48, breadth
    * 128, α 1.2, with segments of `cap` rows. */
  def heavyMeta(name: String, cap: Int): IndexMeta =
    IndexMeta(name, dimension = Gen.Dim, maxSegmentSize = cap, pqM = 16, pqK = 256,
      graphDegree = 48, graphBuildBreadth = 128, graphAlpha = 1.2, oversample = 4)

  val K = 10
  val Params: SearchParams = SearchParams.defaults(K, oversample = 4)

  def deleteTree(p: String): Unit = {
    val root = new File(p).toPath
    if (Files.exists(root))
      Files.walk(root).sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.deleteIfExists(f))
  }

  /** (bytes, data files) under a directory, ignoring checksum files. */
  def dirUsage(p: String): (Long, Long) = {
    val root = new File(p).toPath
    if (!Files.exists(root)) return (0L, 0L)
    val files = Files.walk(root).iterator().asScala.filter(Files.isRegularFile(_)).toSeq
    (files.map(Files.size).sum, files.count(f => f.getFileName.toString.endsWith(".parquet")).toLong)
  }

  /** Exact top-k gids by L2 distance, ties broken by gid (the engine's order). */
  def exactTopK(ids: Array[Long], vecs: Array[Array[Float]], queries: Array[Array[Float]], k: Int): Array[Array[Long]] = {
    val out = new Array[Array[Long]](queries.length)
    java.util.stream.IntStream.range(0, queries.length).parallel().forEach { qi =>
      val q = queries(qi)
      val d = new Array[Double](vecs.length)
      var i = 0
      while (i < vecs.length) {
        val v = vecs(i)
        var s = 0.0
        var j = 0
        while (j < q.length) { val t = (v(j) - q(j)).toDouble; s += t * t; j += 1 }
        d(i) = s
        i += 1
      }
      out(qi) = ids.indices.sortBy(i => (d(i), ids(i))).take(k).map(ids).toArray
    }
    out
  }

  def recall(approx: Map[Long, Array[Long]], truth: Array[Array[Long]], queryIds: Array[Long]): Double = {
    val per = queryIds.indices.map { i =>
      val t = truth(i)
      approx.getOrElse(queryIds(i), Array.empty[Long]).count(t.contains).toDouble / t.length
    }
    per.sum / per.size
  }

  /** Lowest batch recall@10 that still counts as a correct answer. */
  val MinRecall = 0.85
}

import Util._

/** One workload: a setup the harness repeats, then closed-loop ops.
  * `tiny` builds the same workload at a fraction of its size (where that
  * saves warm-up time); the harness runs a tiny setup and `warmupOps` ops
  * first, so class loading, code generation and
  * JIT compilation happen before anything is timed. */
abstract class Workload(val ctx: Ctx, val tiny: Boolean) {
  protected val spark: SparkSession = ctx.spark
  protected def tracer: Tracer = ctx.tracer
  protected val seed: Long = ctx.seed

  /** Name of the item `items_per_s` counts. */
  def itemName: String
  def setup(): Unit
  def teardown(): Unit
  def op(i: Int): OpResult
  /** Untimed ops of the tiny instance before anything is timed. */
  def warmupOps: Int = 1
  /** Timed set-ups per run; `setup_s` is their median. */
  def setupReps: Int = 3
  /** Work items one set-up completes (0 when it is not work of its own). */
  def setupItems: Double = 0.0
  /** End-of-run checks; false fails the run. */
  def finish(): Boolean = true
  /** Vectors of one segment of this workload's corpus, for the direct
    * PQ and graph kernel timings (empty when the workload has no index). */
  def oneSegment: Array[Array[Float]] = Array.empty
}

/** Writes beside reads: each cycle a small `addAll`, a gid `delete`, a
  * small query batch, then `sealPending` and `Maintenance.sweep`. Corpus
  * order is random. The set-up is the bulk build (`addAll` in two batches,
  * then one `sealPending` of a segment count that is a multiple of the
  * cores), so it is timed as `setup_s` and traced as the ingest and seal
  * layers. */
final class ChurnWorkload(c: Ctx, t: Boolean) extends Workload(c, t) {
  import spark.implicits._
  /** Rows per segment: twice PQ's 256 centroids, so codes and graph are
    * approximate, but a quarter of HeavyBench's 2000, so one run fits
    * several cycles (PQ and Vamana time grows about linearly with it). */
  val Cap: Int = if (tiny) 64 else 512
  val InitialSegments: Int = ctx.cores
  val SetupBatches = 2
  /** One segment's worth per cycle: every cycle seals one segment. */
  val AddPerCycle: Int = Cap
  /** The victim keeps this many live rows: under half of a segment, so
    * each sweep vacuums it and compacts it with a partner. */
  val VictimKeeps: Int = Cap / 2 - 5
  val DeleteSecond: Int = Cap / 7
  val QueriesPerCycle: Int = if (tiny) 5 else 20
  val ClockStepMs = 600000L
  /** The default policy, minus the fragmentation floor on compaction
    * candidates, so every vacuum that leaves a segment under half-full
    * compacts and every cycle takes the same path. */
  val Policy: MaintenancePolicy = MaintenancePolicy(compactionMinFragmentation = 0.0)
  val itemName = "cycles"
  override def setupItems: Double = Cap * InitialSegments

  private var store: IndexStore = _
  private var idx: SegmentedIndex = _
  private var maint: Maintenance = _
  private var clock = ClockStartMs
  private var nextId = 0L
  private var queryCursor = 0
  private var rnd: scala.util.Random = _
  /** The benchmark's model of the index: live vectors by gid, the sealed
    * segment of each gid, every gid ever deleted. */
  private val live = mutable.LinkedHashMap.empty[Long, Array[Float]]
  private val segOf = mutable.HashMap.empty[Long, Int]
  private val deleted = mutable.HashSet.empty[Long]
  private var pool: Array[Array[Float]] = _
  /** The set-up build sealed exactly its segments. */
  private var buildOk = false

  /** addAll's gid contract: gids follow the order column from nextGid. */
  private def ingest(ids: Seq[Long], req: Long): Double = {
    val s = seed
    val rows = ids.map(id => (Gen.randomOrder(s, id), Gen.vector(s, id)))
    val df = rows.toDF("ord", "embedding")
    val gid0 = idx.manifest.nextGid
    val (_, ms) = timed(tracer.span("index.ingest", req)(idx.addAll(df, "embedding", "ord")))
    tracer.note("rows", ids.size)
    rows.sortBy(_._1).zipWithIndex.foreach { case ((_, v), j) => live(gid0 + j) = v }
    ms
  }

  /** Re-read which sealed segment holds each live gid (after seal and
    * maintenance, which move rows). Outside timing. */
  private def refreshSegments(): Unit = {
    val sealedIds = store.readManifest().segments
      .filter(_.state == SegmentState.Sealed).map(_.segId).toSet
    segOf.clear()
    store.readVectors(spark).filter(!col("deleted")).select("gid", "segId").as[(Long, Int)]
      .collect().foreach { case (g, sid) => if (sealedIds(sid)) segOf(g) = sid }
  }

  def setup(): Unit = {
    live.clear(); segOf.clear(); deleted.clear()
    clock = ClockStartMs
    nextId = 0L
    queryCursor = 0
    rnd = new scala.util.Random(Gen.mix(seed ^ 7L))
    store = new IndexStore(ctx.freshDir("churn"))
    store.createOrOpen(heavyMeta("churn", Cap), clock)
    idx = new SegmentedIndex(spark, store)
    maint = new Maintenance(idx, Policy)
    val n = Cap * InitialSegments
    (0L until n.toLong).grouped(n / SetupBatches).foreach(ids => ingest(ids, -1L))
    nextId = n.toLong
    val m = tracer.span("index.seal", -1L)(idx.sealPending())
    tracer.note("segments", InitialSegments)
    buildOk = m.segments.count(_.state == SegmentState.Sealed) == InitialSegments
    refreshSegments()
    if (pool == null) pool = Array.tabulate(25 * QueriesPerCycle)(q => Gen.query(seed, q))
  }

  def teardown(): Unit = {
    Search.invalidate(store.path)
    Util.deleteTree(store.path)
  }

  /** Deletes take the oldest at-least-half-full sealed segment to just
    * under half-full (past the vacuum ratio, and small enough to compact),
    * with a smaller share on the next one. */
  private def pickDeletes(): Seq[Long] = {
    val bySeg = segOf.groupBy(_._2).map { case (sid, m) => sid -> m.keys.toIndexedSeq.sorted }
    val victims = bySeg.toSeq.filter(_._2.size >= Cap / 2).map(_._1).sorted
    def take(sid: Option[Int], n: Int): Seq[Long] =
      sid.map(s => rnd.shuffle(bySeg(s)).take(n)).getOrElse(Nil)
    val victim = victims.headOption
    take(victim, victim.fold(0)(bySeg(_).size - VictimKeeps)) ++
      take(victims.drop(1).headOption, DeleteSecond)
  }

  def op(i: Int): OpResult = {
    var timedMs = 0.0
    timedMs += ingest(nextId until nextId + AddPerCycle, i)
    nextId += AddPerCycle

    val dels = pickDeletes()
    val (_, delMs) = timed(tracer.span("maintenance.delete", i)(idx.delete(dels)))
    timedMs += delMs
    dels.foreach { g => live.remove(g); segOf.remove(g); deleted += g }
    val writeMs = timedMs

    val qs = Array.tabulate(QueriesPerCycle)(j => pool((queryCursor + j) % pool.length))
    queryCursor += QueriesPerCycle
    val base = i.toLong * 1000L
    val qdf = qs.indices.map(j => (base + j, qs(j))).toDF("queryId", "qv")
    val (rows, qMs) = timed {
      tracer.span("index.search", i) {
        Search.query(spark, store, qdf, K, Some(Params))
          .select("queryId", "gid").as[(Long, Long)].collect()
      }
    }
    tracer.note("queries", QueriesPerCycle)
    timedMs += qMs
    val nextGid = idx.manifest.nextGid

    clock += ClockStepMs
    val pendingSegs = idx.manifest.segments.count(_.state == SegmentState.Pending)
    val (_, sealMs) = timed(tracer.span("index.seal", i)(idx.sealPending()))
    tracer.note("segments", pendingSegs)
    val physBefore = idx.manifest.segments.map(s => s.count + s.deletedCount).sum
    val ((vac, comp), sweepMs) = timed(tracer.span("maintenance.sweep", i)(maint.sweep(clock)))
    val physAfter = idx.manifest.segments.map(s => s.count + s.deletedCount).sum
    tracer.note("rows_removed", (physBefore - physAfter).toDouble)
    tracer.note("vacuumed", vac.size)
    tracer.note("compactions", comp)
    timedMs += sealMs + sweepMs
    ctx.add("index.seal.segments_sealed", pendingSegs)
    ctx.add("maintenance.segments_vacuumed", vac.size)
    ctx.add("maintenance.compactions", comp)
    ctx.add("maintenance.rows_removed", (physBefore - physAfter).toDouble)
    refreshSegments()

    // checks: no deleted gid and no gid ≥ nextGid, k distinct hits per
    // query, recall against exact truth over the live set
    val got = rows.groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2) }
    val gids = live.keys.toArray
    val truth = exactTopK(gids, gids.map(live), qs, K)
    val r = recall(got, truth, qs.indices.map(base + _).toArray)
    val ok = got.size == QueriesPerCycle &&
      got.values.forall(g => g.length == K && g.distinct.length == K) &&
      rows.forall { case (_, g) => g >= 0 && g < nextGid && !deleted(g) } && r >= MinRecall
    OpResult(1, timedMs, timedMs, ok, r, writeMs, qMs)
  }

  /** The set-up build sealed its segment count, and every live vector of
    * a SEALED segment has a PQ code and an adjacency row, after the set-up
    * build and every seal and compaction since. */
  override def finish(): Boolean = {
    val (bytes, files) = Util.dirUsage(store.path)
    val m = store.readManifest()
    ctx.notes("bytes_per_live_vector") = bytes.toDouble / math.max(1L, m.segments.map(_.count).sum)
    ctx.notes("files_per_segment") = files.toDouble / math.max(1, m.segments.size)
    val sealedIds = m.segments.filter(_.state == SegmentState.Sealed).map(_.segId)
    val key = Seq("segId", "vecId")
    val sealedLive = store.readVectors(spark).filter(!col("deleted") && col("segId").isin(sealedIds: _*))
      .select(key.map(col): _*)
    val covered = sealedLive
      .join(store.readCodes(spark).select(key.map(col): _*), key, "left_semi")
      .join(store.readGraph(spark).select(key.map(col): _*), key, "left_semi")
      .count()
    buildOk && covered == sealedLive.count()
  }

  override def oneSegment: Array[Array[Float]] = Array.tabulate(Cap)(i => Gen.vector(seed, i.toLong))
}

/** `Dedup.minHashNearDuplicates` then `Dedup.duplicateClusters` over a
  * text corpus with planted near-duplicate chains. */
final class DedupWorkload(c: Ctx, t: Boolean) extends Workload(c, t) {
  import spark.implicits._
  val Chains = 120
  val Singletons = 600
  val Words = 40
  val itemName = "docs"
  /** Pass times keep falling over the first few passes (the iterative
    * rounds' planning code is still being compiled), and the first
    * full-size pass after tiny ones was still the slowest, so the warm-up
    * instance has the full size (a pass costs about as much either way)
    * and runs several passes. */
  override def warmupOps: Int = 3
  /** A set-up takes ~0.2 s, so more of them cost little and steady the median. */
  override def setupReps: Int = 7

  private var corpus: Gen.TextCorpus = _
  private var docs: DataFrame = _

  def setup(): Unit = {
    corpus = Gen.textCorpus(seed, Chains, Singletons, Words)
    docs = corpus.docs.toSeq.toDF("doc_id", "text")
      .repartition(ctx.cores)
      .persist(StorageLevel.MEMORY_ONLY)
    docs.count()
  }

  def teardown(): Unit = docs.unpersist(blocking = true)

  def op(i: Int): OpResult = {
    val ((pairsN, clusters), ms) = timed {
      tracer.span("dedup.op", i) {
        val (pairs, n) = tracer.span("pipeline.dedup.pairs", i) {
          val p = Dedup.minHashNearDuplicates(docs, "doc_id", "text").persist()
          (p, p.count())
        }
        tracer.note("pairs", n.toDouble)
        val cl = tracer.span("pipeline.dedup.clusters", i) {
          Dedup.duplicateClusters(pairs).select("doc_id", "cluster_id").as[(Long, Long)].collect()
        }
        pairs.unpersist(blocking = true)
        (n, cl)
      }
    }
    ctx.add("pipeline.dedup.pairs_total", pairsN.toDouble)
    // check: the found clusters are exactly the planted ones
    val found = clusters.groupBy(_._2).values.map(_.map(_._1).sorted.toSeq).toSet
    val planted = corpus.clusters.map(_.toSeq)
    val matched = planted.count(found.contains).toDouble / planted.length
    val ok = matched == 1.0 && found.size == planted.length
    OpResult(corpus.docs.length, ms, ms, ok, matched)
  }
}
