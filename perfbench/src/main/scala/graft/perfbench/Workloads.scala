package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.Engine
import graft.core.Oracle
import graft.corpus.CorpusGen
import graft.query.{LocalService, QueryLog, Searcher}
import graft.streaming.StreamingIndexer
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Corpus, stream and repetition sizes of one scale. */
final case class Sizes(codeDocs: Int, batchWarmup: Int, batchCalls: Int, segDocs: Int,
                       segments: Int, setups: Int)

object Sizes {
  val Default = Sizes(codeDocs = 10000, batchWarmup = 2, batchCalls = 3, segDocs = 1500,
    segments = 2, setups = 3)
  /** The smoke test's scale: every code path, seconds instead of minutes. */
  val Tiny = Sizes(codeDocs = 1500, batchWarmup = 1, batchCalls = 2, segDocs = 300,
    segments = 2, setups = 2)
}

/** One run's shared state: the session, the tracer, the settings, and the
  * counters every workload fills in. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val recorder: Option[JobRecorder],
                val seed: Long, val seconds: Double, val size: Sizes, val work: String,
                val nproc: Int, val parts: Int, val queryLog: String) {
  val traced: Boolean = recorder.nonEmpty
  /** Per-layer values (traced run); unset names print as 0. */
  val layer = mutable.LinkedHashMap.empty[String, Double]
  /** Workload-specific named values for the diagnostics line. */
  val diag = mutable.LinkedHashMap.empty[String, Double]
  val attempted = new AtomicLong()
  val failed = new AtomicLong()
  val compared = new AtomicLong()
  val mismatches = new ConcurrentLinkedQueue[String]()

  def span[T](name: String, layer: String)(f: => T): T = tracer.span(name, layer)(f)

  /** A benchmark phase: a span, and its wall seconds in the diagnostics. */
  def phase[T](name: String)(f: => T): T = {
    val t0 = System.nanoTime()
    try span(name, "")(f)
    finally diag(s"phase_${name}_s") = (System.nanoTime() - t0) / 1e9
  }

  /** Run `f` for every index on `nproc` threads. An exception is a failed
    * operation, counted and named, never a dead thread. */
  def parallel(n: Int)(f: Int => Unit): Unit = {
    val parent = tracer.current
    val ts = (0 until nproc).map { c =>
      new Thread(() => tracer.within(parent)((c until n by nproc).foreach(i => guarded(s"op $i")(f(i)))))
    }
    ts.foreach(_.start()); ts.foreach(_.join())
  }

  /** `f`, with an exception counted as a failed operation. */
  def guarded[T](what: String)(f: => T): Option[T] =
    try Some(f)
    catch { case e: Exception =>
      failed.incrementAndGet()
      if (mismatches.size < 20) mismatches.add(s"$what: $e")
      None
    }

  /** Compare one answer with the oracle's; a mismatch is a failed op. */
  def check(line: String, got: Seq[Oracle.Hit], want: Seq[Oracle.Hit]): Boolean = {
    compared.incrementAndGet()
    Queries.mismatch(line, got, want) match {
      case None => true
      case Some(m) =>
        failed.incrementAndGet()
        if (mismatches.size < 20) mismatches.add(m)
        false
    }
  }

  /** Live heap after a full GC, tracked as the run's peak (untimed). */
  def sampleHeap(): Unit = {
    val g = Host.liveHeapGb()
    diag(s"live_heap_gb_$heapSamples") = g
    heapSamples += 1
    heapPeakGb = math.max(heapPeakGb, g)
  }
  private var heapSamples = 0
  var heapPeakGb = 0.0

  /** `setups` timed repetitions of `f`; the median seconds. */
  def setups(f: Int => Unit): Double = {
    val ts = (0 until size.setups).map { i =>
      val t0 = System.nanoTime()
      span(s"setup.$i", "")(f(i))
      (System.nanoTime() - t0) / 1e9
    }
    ts.zipWithIndex.foreach { case (t, i) => diag(s"setup_trial_${i}_s") = t }
    Stats.median(ts)
  }

  /** GC seconds and count of every `Engine.build` of the run. */
  var buildGcS = 0.0
  var builds = 0

  private var untracedWindows = 0

  /** Measure passes of this run: three in a traced run, one otherwise. */
  val passes: Int = if (traced) 3 else 1

  /** The measure phase. A traced run measures untraced, traced, untraced:
    * the per-layer values come from the traced pass, and
    * `trace_overhead_pct` is the workload's throughput in the untraced
    * passes (their mean, which cancels warm-up drift) over the traced one. */
  def measure[M](throughput: M => Double)(f: => M): M =
    if (!traced) phase("measure")(f)
    else {
      def untraced(): M = {
        val t0 = tracer.now()
        tracer.active = false
        try f
        finally {
          tracer.active = true
          untracedWindows += 1
          tracer.add(Span(Long.MinValue + untracedWindows, tracer.current, "measure.untraced",
            "untraced", t0, tracer.now()))
        }
      }
      val a = untraced()
      val t = phase("measure")(f)
      val b = untraced()
      layer("trace_overhead_pct") =
        100.0 * ((throughput(a) + throughput(b)) / 2 / throughput(t) - 1.0)
      t
    }

  def dir(name: String): String = s"$work/$name"
}

object Stats {
  def median(xs: Seq[Double]): Double = pct(xs, 0.5)
  /** Nearest-rank percentile of `xs`. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(p * s.size).toInt - 1)))
    }
}

/** What a workload reports: the five end-to-end values. */
final case class E2E(setupS: Double, throughput: Double, latencyMs: Double,
                     bytesPerInputByte: Double, heapGb: Double)

object Workloads {
  val K = 10
  val Names: Seq[String] = Seq("batch", "ingest")

  def run(name: String, ctx: Ctx): E2E = name match {
    case "batch"  => batch(ctx)
    case "ingest" => ingest(ctx)
  }

  // ---------------------------------------------------------------- inputs

  /** Write `n` seeded corpus docs as parquet (the corpus layer). */
  private def materialize(ctx: Ctx, n: Int, seed: Long, dir: String): DataFrame = {
    ctx.span("CorpusGen.generate", "corpus") {
      CorpusGen.generate(ctx.spark, n, seed, partitions = ctx.parts)
        .write.mode("overwrite").parquet(dir)
    }
    ctx.spark.read.parquet(dir)
  }

  /** Corpus docs of ids [from, until) as a lazy DataFrame. */
  private def slice(spark: SparkSession, seed: Long, from: Long, until: Long,
                    parts: Int): DataFrame = {
    import spark.implicits._
    spark.range(from, until, 1, parts).map { id =>
      val (r, p, c, l, t) = CorpusGen.row(seed, id)
      CorpusGen.SourceFile(r, p, c, l, t)
    }.toDF()
  }

  private def engineBuild(ctx: Ctx, corpus: DataFrame, dir: String): Engine = {
    Host.deleteDir(dir)
    val gc0 = Host.gcS()
    try ctx.span("Engine.build", "index")(Engine.build(ctx.spark, corpus, dir, partitions = ctx.parts))
    finally { ctx.buildGcS += Host.gcS() - gc0; ctx.builds += 1 }
  }

  /** Oracle over docs [0, n) of the seeded corpus (excluded from setup). */
  private def oracle(ctx: Ctx, n: Int): (Oracle.Index, Long) =
    ctx.span("Oracle.Index", "core") {
      val rows = Queries.corpusRows(ctx.seed, 0, n, ctx.nproc)
      (new Oracle.Index(Queries.rankedDocs(rows, 0)), rows.iterator.map(_._3.length.toLong).sum)
    }

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  // ----------------------------------------------------------------- index

  /** index.<stage>.* over every traced `Engine.build` of the run (per build):
    * a job belongs to the first stage whose write ends after it starts;
    * a stage's wall time is the window since the previous stage's write. */
  private def indexLayers(ctx: Ctx): Unit = {
    val rec = ctx.recorder.get
    val builds = ctx.tracer.spans.filter(_.name == "Engine.build")
    if (builds.isEmpty) return
    val jobs = rec.jobList
    val stageRe = "/(docstore|postings|superblocks|termstats|bloom)(?:/|$)".r
    val acc = mutable.HashMap.empty[String, Double].withDefaultValue(0.0)
    var runMs = 0L
    builds.foreach { b =>
      val writes = rec.writes.filter { case (_, end) => end >= b.start && end <= b.end }
        .flatMap { case (path, end) => stageRe.findFirstMatchIn(path).map(m => m.group(1) -> end) }
      var prev = b.start
      writes.foreach { case (stage, end) =>
        acc(s"index.$stage.wall_s") += (end - prev) / 1e9
        prev = end
      }
      jobs.filter(_.span == b.id).foreach { j =>
        runMs += j.runMs
        writes.find(_._2 >= j.start).foreach { case (stage, _) =>
          acc(s"index.$stage.task_cpu_s") += j.cpuNs / 1e9
          acc(s"index.$stage.shuffle_write_mb") += j.shuffleWrite / 1e6
          acc(s"index.$stage.spill_mb") += j.spill / 1e6
          acc(s"index.$stage.out_mb") += j.outputBytes / 1e6
        }
      }
    }
    val nb = builds.size.toDouble
    acc.foreach { case (k, v) => ctx.layer(k) = v / nb }
    val wall = builds.map(_.dur).sum / 1e9
    ctx.layer("index.parallel_efficiency") = runMs / 1e3 / (wall * ctx.nproc)
    ctx.layer("index.gc_s") = ctx.buildGcS / ctx.builds
  }

  // ----------------------------------------------------------------- batch

  /** Batch log: set-up indexes the corpus (`Engine.build`: IndexBuilder
    * stages + bloom) and loads it; the measure phase sends every code line
    * of the query log through one `QueryLog.run(...).collect()` per call —
    * the Catalyst-planned path, nothing resident, every query decoding its
    * blocks from parquet. */
  private def batch(ctx: Ctx): E2E = {
    val n = ctx.size.codeDocs
    val corpus = ctx.phase("prep")(materialize(ctx, n, ctx.seed, ctx.dir("corpus")))
    var dir = ""
    var ix: Searcher.LoadedIndex = null
    val buildS = mutable.ArrayBuffer.empty[Double]
    val setupS = ctx.setups { i =>
      if (dir.nonEmpty) Host.deleteDir(dir)
      dir = ctx.dir(s"ix_code$i")
      val t0 = System.nanoTime()
      engineBuild(ctx, corpus, dir)
      buildS += secs(t0)
      ix = ctx.span("Searcher.load", "query")(Searcher.load(ctx.spark, dir))
    }
    ctx.sampleHeap()
    val stream = Queries.stream(ctx.queryLog, ctx.seed).toIndexedSeq
    val (orc, inBytes) = oracle(ctx, n)
    val want = ctx.phase("expected")(ctx.span("Oracle.expected", "core") {
      stream.map(q => q.q.id -> Queries.expected(orc, q.q, K, batchCaps = true)).toMap
    })
    import ctx.spark.implicits._
    def call(): Double = {
      val c0 = System.nanoTime()
      val rows = ctx.span("QueryLog.run", "query") {
        QueryLog.run(ix, stream.map(_.q), K).as[(Int, Int, Int, Double)].collect()
      }
      val wall = secs(c0)
      val byQ = rows.groupBy(_._1)
      stream.foreach { q =>
        ctx.attempted.incrementAndGet()
        val got = byQ.getOrElse(q.q.id, Array.empty).sortBy(_._2).map(r => Oracle.Hit(r._3, r._4))
        ctx.check(q.line, got.toSeq, want(q.q.id))
      }
      wall
    }
    // the first calls JIT-compile the query path (each call is faster than
    // the last for about two calls): run and checked, not timed
    ctx.phase("warmup")((0 until ctx.size.batchWarmup).foreach(_ => call()))
    val walls = ctx.measure[Seq[Double]](w => stream.size / Stats.median(w)) {
      val ws = mutable.ArrayBuffer.empty[Double]
      val t0 = System.nanoTime()
      while (ws.size < ctx.size.batchCalls || secs(t0) < ctx.seconds) ws += call()
      ws.toSeq
    }
    ctx.sampleHeap()
    val wall = Stats.median(walls)
    walls.zipWithIndex.foreach { case (w, i) => ctx.diag(s"batch_call_${i}_s") = w }
    ctx.diag ++= Seq("build_docs_per_s" -> n / Stats.median(buildS.toSeq),
      "batch_qps" -> stream.size / wall, "batch_calls" -> walls.size.toDouble,
      "batch_queries" -> stream.size.toDouble, "corpus_docs" -> n.toDouble,
      "input_bytes" -> inBytes.toDouble)
    if (ctx.traced) {
      val rec = ctx.recorder.get
      val measure = ctx.tracer.spans.find(_.name == "measure").get
      val runs = ctx.tracer.spans.filter(s => s.name == "QueryLog.run" &&
        s.start >= measure.start && s.end <= measure.end)
      val ids = runs.map(_.id).toSet
      val jobs = rec.jobList.filter(j => ids(j.span))
      val nc = runs.size.toDouble
      jobs.groupBy(j => Trace.moduleOf(j.site).map(_._2).filter(
          Set("Searcher", "MetaStore", "BoolQuery")).getOrElse("QueryLog"))
        .foreach { case (mod, js) =>
          ctx.layer(s"query.$mod.jobs") = js.size / nc
          ctx.layer(s"query.$mod.job_wall_s") = js.map(j => (j.end - j.start) / 1e9).sum / nc
          ctx.layer(s"query.$mod.task_cpu_s") = js.map(_.cpuNs / 1e9).sum / nc
        }
      ctx.layer("batch.input_mb") = jobs.map(_.inputBytes).sum / 1e6 / nc
      ctx.layer("batch.records_read") = jobs.map(_.inputRecords).sum / nc
      ctx.layer("batch.shuffle_write_mb") = jobs.map(_.shuffleWrite).sum / 1e6 / nc
      ctx.layer("batch.spill_mb") = jobs.map(_.spill).sum / 1e6 / nc
      ctx.layer("batch.driver_s") = runs.map { r =>
        (r.dur - Trace.covered(jobs.filter(_.span == r.id).map(j => (j.start, j.end)), r.start, r.end)) / 1e9
      }.sum / nc
      indexLayers(ctx)
    }
    E2E(setupS, stream.size / wall, wall * 1e3, Host.dirBytes(dir).toDouble / inBytes, ctx.heapPeakGb)
  }

  // ---------------------------------------------------------------- ingest

  /** Streaming ingest: the base segment is appended in prep; set-up opens a
    * reader `LocalService` over it and warms it with the reader queries
    * (the query log's code lines). The measure phase appends micro-batch
    * segments, at least `segments` of them and for at least `seconds`,
    * then compacts them, while one reader thread queries. After
    * every commit the writer reopens the service, probes the segment's
    * unique identifier (visibility), warms the new instance and publishes
    * it: a stale instance then serves warm paths only, the scope of
    * `LocalService`'s snapshot contract. Segment s holds corpus docs
    * [s*m, (s+1)*m). */
  private def ingest(ctx: Ctx): E2E = {
    val m = ctx.size.segDocs
    val minSegs = ctx.size.segments
    def seg(s: Int): DataFrame = slice(ctx.spark, ctx.seed, s.toLong * m, (s + 1L) * m, ctx.parts)
    def append(dir: String, s: Int): Unit = ctx.span("StreamingIndexer.appendSegment", "streaming") {
      StreamingIndexer.appendSegment(ctx.spark, seg(s), dir, segId = s.toLong, partitions = ctx.parts)
    }
    def probe(s: Int): Seq[String] = Seq(s"fn_${s.toLong * m}_0")
    val readers = Queries.stream(ctx.queryLog, ctx.seed).toIndexedSeq
    def warm(svc: LocalService): Unit = ctx.parallel(readers.size) { i =>
      ctx.span("LocalService.warm", "query")(Queries.serve(svc, readers(i).q, K))
    }
    def open(dir: String): LocalService = {
      val svc = ctx.span("LocalService.open", "query")(new LocalService(Searcher.load(ctx.spark, dir)))
      warm(svc)
      svc
    }
    // each measure pass runs on its own streamed index
    val dirs = (0 until ctx.passes).map(p => ctx.dir(s"ix_stream$p"))
    ctx.phase("prep")(dirs.foreach { d => Host.deleteDir(d); append(d, 0) })
    var reader: LocalService = null
    val setupS = ctx.setups(_ => reader = open(dirs.last))
    ctx.sampleHeap()

    /** One read: the snapshot (live segment count) it was served from. */
    final case class Read(snap: Int, qi: Int, hits: Seq[Oracle.Hit], ns: Long, compacting: Boolean)
    final case class M(segments: Int, appendS: Seq[Double], visibleS: Seq[Double], reopenS: Seq[Double],
                       warmS: Seq[Double], firstReadMs: Seq[Double],
                       probes: Seq[(Int, Seq[Oracle.Hit])], compactS: Double, reads: Seq[Read],
                       bytesBefore: Long, bytesAfter: Long, cache: (Long, Long, Long),
                       resident: Long, gcS: Double) {
      def readMs: Seq[Double] = reads.map(_.ns / 1e6)
      def meanReadMs: Double = readMs.sum / math.max(1, reads.size)
    }
    var pass = 0
    val out = ctx.measure[M](r => 1.0 / r.meanReadMs) {
      val dir = dirs(pass)
      val svc0 = if (pass == ctx.passes - 1) reader else open(dir)
      pass += 1
      final case class Snap(svc: LocalService, live: Int)
      @volatile var current = Snap(svc0, 1)
      val compacting = new AtomicBoolean(false)
      val stop = new AtomicBoolean(false)
      val reads = new ConcurrentLinkedQueue[Read]()
      var hits, misses, evictions = 0L
      def publish(next: Snap): Unit = {
        val (h, mi, ev) = current.svc.cacheStats
        hits += h; misses += mi; evictions += ev
        current = next
      }
      val gc0 = Host.gcS()
      val parent = ctx.tracer.current
      val rt = new Thread(() => {
        var i = 0
        while (!stop.get) {
          val snap = current
          val qi = i % readers.size
          val t0 = System.nanoTime()
          ctx.attempted.incrementAndGet()
          ctx.guarded(readers(qi).line) {
            ctx.tracer.span("LocalService.search", "query", i.toLong, parent) {
              Queries.serve(snap.svc, readers(qi).q, K)
            }
          }.foreach(got => reads.add(Read(snap.live, qi, got, System.nanoTime() - t0, compacting.get)))
          i += 1
        }
      })
      val appendS, visibleS, reopenS, warmS, firstMs = mutable.ArrayBuffer.empty[Double]
      val probes = mutable.ArrayBuffer.empty[(Int, Seq[Oracle.Hit])]
      var compactS = 0.0
      var before, after = 0L
      def reopen(): LocalService = {
        val r0 = System.nanoTime()
        val next = ctx.span("LocalService.reopened", "query")(current.svc.reopened())
        reopenS += secs(r0)
        next
      }
      def warmed(next: LocalService): LocalService = {
        val w0 = System.nanoTime()
        warm(next)
        warmS += secs(w0)
        next
      }
      var s = 0
      val m0 = System.nanoTime()
      rt.start()
      try {
        while (s < minSegs || secs(m0) < ctx.seconds) {
          s += 1
          val t0 = System.nanoTime()
          append(dir, s)
          appendS += secs(t0)
          val next = reopen()
          val f0 = System.nanoTime()
          val got = ctx.span("LocalService.probe", "query")(next.search(probe(s), K))
          firstMs += (System.nanoTime() - f0) / 1e6
          visibleS += secs(t0)
          probes += s -> got
          publish(Snap(warmed(next), s + 1))
        }
        before = Host.dirBytes(dir)
        compacting.set(true)
        val c0 = System.nanoTime()
        ctx.span("StreamingIndexer.compact", "streaming") {
          StreamingIndexer.compact(ctx.spark, dir, partitions = ctx.parts)
        }
        compactS = secs(c0)
        publish(Snap(warmed(reopen()), s + 1))
        compacting.set(false)
        after = Host.dirBytes(dir)
        // one pass of reads on the compacted snapshot before the reader stops
        val r0 = reads.size
        val w0 = System.nanoTime()
        while (reads.size < r0 + readers.size && secs(w0) < 30) Thread.sleep(1)
      } finally {
        stop.set(true)
        rt.join()
      }
      val resident = current.svc.residentPostings
      publish(current)
      ctx.attempted.addAndGet(s + 1L) // the appends and the compaction
      M(s, appendS.toSeq, visibleS.toSeq, reopenS.toSeq, warmS.toSeq, firstMs.toSeq, probes.toSeq,
        compactS, reads.asScala.toSeq, before, after, (hits, misses, evictions), resident,
        Host.gcS() - gc0)
    }
    ctx.sampleHeap()
    // every read against the oracle of the snapshot it was served from:
    // segments 0 until snap, docIds by (repo, path) rank within a segment
    val segs = out.segments
    val rows = (0 to segs).map(s =>
      Queries.corpusRows(ctx.seed, s.toLong * m, (s + 1L) * m, ctx.nproc))
    ctx.phase("check") {
      val bySnap = out.reads.groupBy(_.snap)
      (1 to segs + 1).foreach { snap =>
        val orc = ctx.span("Oracle.Index", "core") {
          new Oracle.Index((0 until snap).flatMap(s => Queries.rankedDocs(rows(s), s * m)))
        }
        val want = readers.map(q => Queries.expected(orc, q.q, K, batchCaps = false))
        bySnap.getOrElse(snap, Nil).foreach { r =>
          ctx.check(readers(r.qi).line, r.hits, want(r.qi))
        }
        out.probes.filter(_._1 + 1 == snap).foreach { case (s, got) =>
          ctx.attempted.incrementAndGet()
          ctx.check(s"visible ${probe(s).head}", got, Oracle.search(orc, probe(s), K))
        }
      }
    }
    val inBytes = rows.map(_.iterator.map(_._3.length.toLong).sum).sum
    val readMs = out.readMs
    val tput = out.appendS.size * m / out.appendS.sum
    ctx.diag ++= Seq("ingest_docs_per_s" -> tput, "ingest_visible_s" -> Stats.median(out.visibleS),
      "ingest_read_mean_ms" -> out.meanReadMs, "ingest_read_p99_ms" -> Stats.pct(readMs, 0.99),
      "ingest_reads" -> readMs.size.toDouble, "compact_s" -> out.compactS,
      "segment_docs" -> m.toDouble, "segments" -> segs.toDouble,
      "reader_queries" -> readers.size.toDouble, "input_bytes" -> inBytes.toDouble)
    if (ctx.traced) {
      val measure = ctx.tracer.spans.find(_.name == "measure").get
      val spans = ctx.tracer.spans.filter(s => s.start >= measure.start && s.end <= measure.end)
      val jobs = ctx.recorder.get.jobList
      def jobsOf(name: String): Seq[JobRec] = {
        val ids = spans.filter(_.name == name).map(_.id).toSet
        jobs.filter(j => ids(j.span))
      }
      out.reads.groupBy(r => readers(r.qi).family).foreach { case (f, rs) =>
        val ms = rs.map(_.ns / 1e6)
        ctx.layer(s"query.LocalService.$f.p50_ms") = Stats.median(ms)
        ctx.layer(s"query.LocalService.$f.p99_ms") = Stats.pct(ms, 0.99)
      }
      val (h, mi, ev) = out.cache
      ctx.layer("query.LocalService.evictions") = ev.toDouble
      ctx.layer("query.LocalService.resident_postings") = out.resident.toDouble
      val app = jobsOf("StreamingIndexer.appendSegment")
      val napp = out.appendS.size.toDouble
      ctx.layer("streaming.append.wall_s") = out.appendS.sum / napp
      ctx.layer("streaming.append.task_cpu_s") = app.map(_.cpuNs).sum / 1e9 / napp
      ctx.layer("streaming.append.shuffle_write_mb") = app.map(_.shuffleWrite).sum / 1e6 / napp
      ctx.layer("streaming.visible_s") = Stats.median(out.visibleS)
      ctx.layer("streaming.reopen_s") = Stats.median(out.reopenS)
      ctx.layer("streaming.warm_s") = Stats.median(out.warmS)
      ctx.layer("streaming.first_read_ms") = Stats.median(out.firstReadMs)
      ctx.layer("streaming.read_cache_hit_rate") = if (h + mi == 0) 0.0 else h.toDouble / (h + mi)
      ctx.layer("streaming.read_spark_jobs") = jobsOf("LocalService.search").size.toDouble
      ctx.layer("streaming.read_p50_ms") = Stats.median(readMs)
      ctx.layer("streaming.read_p99_ms") = Stats.pct(readMs, 0.99)
      ctx.layer("streaming.gc_s") = out.gcS
      ctx.layer("streaming.compact_s") = out.compactS
      val cj = jobsOf("StreamingIndexer.compact")
      ctx.layer("streaming.compact.task_cpu_s") = cj.map(_.cpuNs).sum / 1e9
      ctx.layer("streaming.compact.shuffle_write_mb") = cj.map(_.shuffleWrite).sum / 1e6
      ctx.layer("streaming.compact.spill_mb") = cj.map(_.spill).sum / 1e6
      ctx.layer("streaming.compact.rewritten_mb") = cj.map(_.outputBytes).sum / 1e6
      ctx.layer("streaming.read_p99_during_compact_ms") =
        Stats.pct(out.reads.filter(_.compacting).map(_.ns / 1e6), 0.99)
      ctx.layer("streaming.bytes_per_input_byte.before_compact") = out.bytesBefore.toDouble / inBytes
      ctx.layer("streaming.bytes_per_input_byte.after_compact") = out.bytesAfter.toDouble / inBytes
    }
    E2E(setupS, tput, out.meanReadMs, out.bytesAfter.toDouble / inBytes, ctx.heapPeakGb)
  }
}
