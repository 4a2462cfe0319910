package graft.perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Benchmark entry point: runs one workload in one JVM and writes its result
  * (the end-to-end metrics, or with `--trace 1` the per-layer metrics) and
  * a diagnostics record. `perfbench/run.py` builds and launches it.
  *
  * Arguments: `--workload W --seed N --seconds S --trace 0|1 --scale
  * default|tiny --work DIR --out FILE --diag FILE --parts P --page-warm-gb G
  * --queries LOG [--conf k=v]...` */
object Main {

  val EndToEnd: Seq[(String, String)] = Seq("setup_s" -> "s", "throughput_per_s" -> "1/s",
    "latency_ms" -> "ms", "index_bytes_per_input_byte" -> "ratio", "live_heap_peak_gb" -> "GB")

  val IndexStages: Seq[String] = Seq("docstore", "postings", "superblocks", "termstats", "bloom")

  val PerLayer: Seq[(String, String)] =
    IndexStages.flatMap(s => Seq(s"index.$s.wall_s" -> "s", s"index.$s.task_cpu_s" -> "s",
      s"index.$s.shuffle_write_mb" -> "MB", s"index.$s.spill_mb" -> "MB", s"index.$s.out_mb" -> "MB")) ++
    Seq("index.gc_s" -> "s", "index.parallel_efficiency" -> "ratio") ++
    Seq("QueryLog", "Searcher", "MetaStore", "BoolQuery").flatMap(m => Seq(s"query.$m.jobs" -> "count",
      s"query.$m.job_wall_s" -> "s", s"query.$m.task_cpu_s" -> "s")) ++
    Seq("batch.input_mb" -> "MB", "batch.records_read" -> "count", "batch.shuffle_write_mb" -> "MB",
      "batch.spill_mb" -> "MB", "batch.driver_s" -> "s") ++
    Queries.Families.flatMap(f => Seq(s"query.LocalService.$f.p50_ms" -> "ms",
      s"query.LocalService.$f.p99_ms" -> "ms")) ++
    Seq("query.LocalService.evictions" -> "count", "query.LocalService.resident_postings" -> "count") ++
    Seq("streaming.append.wall_s" -> "s", "streaming.append.task_cpu_s" -> "s",
      "streaming.append.shuffle_write_mb" -> "MB", "streaming.visible_s" -> "s",
      "streaming.reopen_s" -> "s", "streaming.warm_s" -> "s", "streaming.first_read_ms" -> "ms",
      "streaming.read_cache_hit_rate" -> "ratio", "streaming.read_spark_jobs" -> "count",
      "streaming.read_p50_ms" -> "ms", "streaming.read_p99_ms" -> "ms", "streaming.gc_s" -> "s",
      "streaming.compact_s" -> "s", "streaming.compact.task_cpu_s" -> "s",
      "streaming.compact.shuffle_write_mb" -> "MB", "streaming.compact.spill_mb" -> "MB",
      "streaming.compact.rewritten_mb" -> "MB", "streaming.read_p99_during_compact_ms" -> "ms",
      "streaming.bytes_per_input_byte.before_compact" -> "ratio",
      "streaming.bytes_per_input_byte.after_compact" -> "ratio") ++
    Trace.Layers.map(l => s"layer.$l.self_s" -> "s") ++
    Seq("layer.unattributed_s" -> "s", "layer.traced_wall_s" -> "s", "trace_overhead_pct" -> "%")

  def main(args: Array[String]): Unit = {
    val (opts, confs) = parse(args)
    val workload = opts("workload")
    require(Workloads.Names.contains(workload), s"unknown workload $workload")
    val trace = opts("trace") == "1"
    val work = opts("work")
    val nproc = Runtime.getRuntime.availableProcessors
    Host.deleteDir(work)
    Files.createDirectories(Paths.get(work))

    // host-condition evidence; pages warmed before anything is timed
    val noise0 = Host.noiseProbeS()
    val fault0 = Host.faultProbeMbPerS()
    val (warmGb, warmS) = graft.Bench.pageWarm(opts("page-warm-gb").toLong, 60)
    val fault1 = Host.faultProbeMbPerS()

    val builder = SparkSession.builder().master(s"local[$nproc]").appName(s"perfbench-$workload")
      .config("spark.local.dir", s"$work/spark-local")
    confs.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1e3
    spark.sparkContext.setLogLevel("WARN")
    val recorder = if (trace) Some(new JobRecorder) else None
    recorder.foreach(spark.sparkContext.addSparkListener)
    val tracer = new Tracer(trace)
    tracer.sc = Some(spark.sparkContext)
    val ctx = new Ctx(spark, tracer, recorder, opts("seed").toLong, opts("seconds").toDouble,
      if (opts("scale") == "tiny") Sizes.Tiny else Sizes.Default, work, nproc,
      opts("parts").toInt, opts("queries"))

    try {
      val e2e = tracer.span("run", "")(Workloads.run(workload, ctx))
      val noise1 = Host.noiseProbeS()
      if (trace) summarise(ctx, Paths.get(opts("out").replace(".result.json", ".spans.jsonl")))
      val values: Seq[(String, String, Double)] =
        if (trace) PerLayer.map { case (n, u) => (n, u, ctx.layer.getOrElse(n, 0.0)) }
        else {
          val v = Seq(e2e.setupS, e2e.throughput, e2e.latencyMs, e2e.bytesPerInputByte, e2e.heapGb)
          EndToEnd.zip(v).map { case ((n, u), x) => (n, u, x) }
        }
      val attempted = math.max(1L, ctx.attempted.get)
      val failed = ctx.failed.get
      val result = Json.obj(Seq(
        "correct" -> (failed == 0 && ctx.compared.get > 0).toString,
        "attempted" -> attempted.toString,
        "failed" -> failed.toString,
        "metrics" -> Json.obj(values.map { case (n, u, x) =>
          n -> Json.obj(Seq("value" -> Json.num(x), "unit" -> Json.str(u))) })))
      import scala.jdk.CollectionConverters._
      val diag = Json.obj(Seq(
        "workload" -> Json.str(workload), "seed" -> opts("seed"), "trace" -> opts("trace"),
        "scale" -> Json.str(opts("scale")), "nproc" -> nproc.toString,
        "heap_max_gb" -> Json.num(Host.maxHeapGb), "partitions" -> opts("parts"),
        "jvm_start_to_session_s" -> Json.num(sessionS),
        "jvm_start_to_result_s" -> Json.num((System.currentTimeMillis() - jvmStart) / 1e3),
        "spark_conf" -> Json.obj(confs.map { case (k, v) => k -> Json.str(v) }),
        "error_rate" -> Json.num(failed.toDouble / attempted),
        "oracle_compared" -> ctx.compared.get.toString,
        "mismatches" -> ctx.mismatches.asScala.map(Json.str).mkString("[", ",", "]"),
        "host" -> Json.obj(Seq("noise_probe_s_start" -> Json.num(noise0),
          "noise_probe_s_end" -> Json.num(noise1), "fault_mb_per_s_before_warm" -> Json.num(fault0),
          "fault_mb_per_s_after_warm" -> Json.num(fault1), "page_warm_gb" -> Json.num(warmGb),
          "page_warm_s" -> Json.num(warmS))),
        "workload_metrics" -> Json.obj(ctx.diag.toSeq.map { case (k, v) => k -> Json.num(v) })))
      ctx.mismatches.asScala.foreach(m => System.err.println(s"[perfbench] mismatch: $m"))
      Files.writeString(Paths.get(opts("diag")), diag + "\n")
      Files.writeString(Paths.get(opts("out")), result + "\n")
    } finally {
      spark.stop()
      Host.deleteDir(work)
    }
  }

  /** Per-layer self times over the traced wall time, and the span file. */
  private def summarise(ctx: Ctx, spansFile: java.nio.file.Path): Unit = {
    val sc = ctx.spark.sparkContext
    org.apache.spark.perfbench.BusDrain(sc, 60000L)
    val spans = ctx.tracer.spans
    val all = spans ++ Trace.jobSpans(spans, ctx.recorder.get.jobList)
    val root = spans.find(_.name == "run").get
    val (layers, unattributed) = Trace.layerSelfTimes(root, all)
    Trace.Layers.foreach(l => ctx.layer(s"layer.$l.self_s") = layers.getOrElse(l, 0.0))
    ctx.layer("layer.unattributed_s") = unattributed
    ctx.layer("layer.traced_wall_s") = root.dur / 1e9 - layers.getOrElse("untraced", 0.0)
    Trace.write(spansFile, all, 200000)
  }

  private def parse(args: Array[String]): (Map[String, String], Seq[(String, String)]) = {
    val opts = Map.newBuilder[String, String]
    val confs = Seq.newBuilder[(String, String)]
    args.grouped(2).foreach {
      case Array("--conf", kv) =>
        val i = kv.indexOf('=')
        confs += kv.take(i) -> kv.drop(i + 1)
      case Array(k, v) if k.startsWith("--") => opts += k.drop(2) -> v
      case a => throw new IllegalArgumentException(s"bad argument ${a.mkString(" ")}")
    }
    (opts.result(), confs.result())
  }
}
