package graftbench

import org.apache.spark.sql.SparkSession

/** The standing benchmark: one run of one workload. Every run executes
  * the same lifecycle — set-up (session, corpus, the initial store built
  * three times, pinned servers), serve for `--seconds`, two churn rounds
  * and a compaction — so every end-to-end metric is measured on every
  * workload. The workloads differ in one input property: whether the
  * skewed query stream's working set fits the lazy tier's cell cache
  * (`serve`) or exceeds it (`churn`). See README.md.
  *
  * Args: --workload serve|churn --seed n --seconds s --trace 0|1
  *       --work dir --data dir [--toy] [--rows n] [--dim n]
  * Prints a `# record` diagnostics line, then the result as the last
  * line: {"correct", "attempted", "failed", "metrics"}. */
object Main {
  val workloads = Seq("serve", "churn")

  /** End-to-end metrics (tracing off): name -> unit. */
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "build_s" -> "s", "recall_at_10" -> "ratio",
    "serve_p50_ms" -> "ms", "serve_qps" -> "1/s", "remote_p50_ms" -> "ms",
    "append_s" -> "s", "compact_s" -> "s", "batch_qps" -> "1/s",
    "lazy_p50_ms" -> "ms", "lazy_p99_ms" -> "ms",
    "store_bytes_per_vector" -> "bytes")

  /** Per-layer metrics (traced run): name -> unit. The serve stage's
    * tails are here rather than end-to-end: a few per cent of CPU steal
    * on the host doubles them, so no regression bound would hold. */
  val perLayer: Seq[(String, String)] = Seq(
    "serve_p99_ms" -> "ms", "remote_p99_ms" -> "ms",
    "index.fit.collect_train_sample_s" -> "s", "index.fit.coarse_kmeans_s" -> "s",
    "index.fit.pq_kmeans_s" -> "s", "index.fit.materialize_residuals_s" -> "s",
    "index.fit.kmeans_rounds" -> "count", "index.encode_s" -> "s",
    "index.save_s" -> "s", "index.load_s" -> "s", "index.store_files" -> "count",
    "query.serve.select_us" -> "us", "query.serve.adc_table_us" -> "us",
    "query.serve.pq_p50_us" -> "us",
    "query.serve.filtered_p50_us" -> "us", "query.serve.sq8_p50_us" -> "us",
    "query.serve.codes_scanned" -> "count", "functions.adc_flops" -> "count",
    "functions.code_bytes_read" -> "bytes", "query.wire.overhead_us" -> "us",
    "query.batch.plan_ms" -> "ms", "query.batch.jobs" -> "count",
    "query.batch.tasks" -> "count", "query.batch.task_s" -> "s",
    "index.store.append_s" -> "s", "index.store.delete_s" -> "s",
    "index.store.files_before_compact" -> "count",
    "index.store.files_after_compact" -> "count",
    "index.store.tombstones" -> "count",
    "query.residency.cold_loads" -> "count", "query.residency.hit_ratio" -> "ratio",
    "query.residency.working_set_cells" -> "count",
    "query.residency.evictions" -> "count", "query.residency.resident_bytes" -> "bytes",
    "query.residency.cold_query_ms" -> "ms",
    "attrs.set_s" -> "s", "attrs.fetch_s" -> "s") ++
    Pipeline.entries.flatMap(e => Seq(s"pipeline.$e.s" -> "s",
      s"pipeline.$e.jobs" -> "count", s"pipeline.$e.tasks" -> "count",
      s"pipeline.$e.task_s" -> "s", s"pipeline.$e.shuffle_mb" -> "MB")) ++ Seq(
    "runtime.gc_ms" -> "ms", "runtime.jit_ms" -> "ms",
    "runtime.code_cache_mb" -> "MB", "runtime.heap_peak_mb" -> "MB",
    "trace.overhead_pct" -> "%", "trace.spans" -> "count")

  /** Checks every run must execute at least once. */
  val requiredChecks = Seq("recall_recomputed", "load_roundtrip",
    "remote_bit_identical", "filtered_predicate", "sq8_answers_k",
    "batch_rows_qk", "deleted_absent", "attrs_fetch_consistent",
    "lazy_bit_identical", "compact_unchanged")

  // per-layer timings taken from span durations: metric -> (span, ns per unit)
  private val spanTimings = Seq(
    "index.encode_s" -> ("index.encode", 1e9), "index.save_s" -> ("index.save", 1e9),
    "index.load_s" -> ("index.load", 1e9),
    "query.serve.select_us" -> ("query.serve.select", 1e3),
    "query.serve.adc_table_us" -> ("query.serve.adc_table", 1e3),
    "query.serve.pq_p50_us" -> ("query.serve.pq", 1e3),
    "query.serve.filtered_p50_us" -> ("query.serve.filtered", 1e3),
    "query.serve.sq8_p50_us" -> ("query.serve.sq8", 1e3),
    "index.store.append_s" -> ("index.store.append", 1e9),
    "index.store.delete_s" -> ("index.store.delete", 1e9),
    "attrs.set_s" -> ("attrs.set", 1e9), "attrs.fetch_s" -> ("attrs.fetch", 1e9))

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap ++
      args.filter(_ == "--toy").map(_ => "toy" -> "1").toMap
    def need(k: String) = opts.getOrElse(k, sys.error(s"missing --$k"))
    val workload = need("workload")
    require(workloads.contains(workload), s"unknown workload $workload")
    val seed = need("seed").toLong
    val seconds = need("seconds").toDouble
    val traced = need("trace") == "1"
    val toy = opts.contains("toy")
    val workDir = java.nio.file.Paths.get(need("work")).toAbsolutePath
    val dataDir = need("data")
    val base = if (toy) Shape.toy else Shape.standard
    val shape = base.copy(rows = opts.get("rows").map(_.toInt).getOrElse(base.rows),
      dim = opts.get("dim").map(_.toInt).getOrElse(base.dim))
    val cpus = Runtime.getRuntime.availableProcessors

    val steal0 = JvmRuntime.cpuSteal
    val s0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "1048576")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", workDir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", workDir.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val corpus = new Corpus(seed, shape)
    val sessionS = (System.nanoTime() - s0) / 1e9

    Trace.enabled = traced
    val ctx = new Ctx(spark, shape, corpus, workDir,
      new Accounting(spark.sparkContext, traced))

    // set-up: the input relation, then the initial index built three
    // times (median reported), then the servers over the last build
    val (df, inputS) = timed(Build.corpusDf(ctx))
    val cycles = (1 to 3).map(_ => Build.cycle(ctx, df))
    val (env, servingS) = timed(Build.serving(ctx, df, cycles.last))
    ctx.e2e("setup_s") = sessionS + inputS + Stats.median(cycles.map(_.seconds)) + servingS

    // the pipeline layer is measured in the traced churn run only
    val pipelineRun =
      if (!traced || workload != "churn") Nil
      else if (toy) Seq("dedup_minhash_lsh") else Pipeline.entries
    // timed after set-up, so the JVM's warm-up is not in the first reading
    val ambientFirst = ambientControl(spark)
    val stageS = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    def stage(name: String)(body: => Unit): Unit = {
      val t0 = System.nanoTime(); body; stageS(name) = (System.nanoTime() - t0) / 1e9
    }
    try {
      stage("check")(Build.check(ctx, env, cycles.map(_.seconds)))
      stage("serve")(Serve.run(ctx, env, (seconds * 1e9).toLong))
      // the serve workload's skewed working set fits the lazy cell
      // cache, the churn workload's does not
      stage("churn")(Churn.run(ctx, env, lazyFits = workload == "serve"))
      if (pipelineRun.nonEmpty)
        stage("pipeline")(Pipeline.run(ctx, dataDir, warm = !toy, pipelineRun))
    } finally env.close()
    val ambientLast = ambientControl(spark)
    val steal1 = JvmRuntime.cpuSteal

    var selfS = Map.empty[String, Double]
    if (traced) {
      val spans = Trace.all
      selfS = Trace.selfNs(spans).map { case (k, v) => k -> v / 1e9 }
      spanTimings.foreach { case (m, (span, unit)) =>
        val d = spans.iterator.filter(_.name == span).map(_.durNs / unit).toSeq
        if (d.nonEmpty) ctx.layer(m) = Stats.median(d)
      }
      ctx.sampled.foreach { case (k, v) => ctx.layer(k) = v }
      ctx.layer("runtime.gc_ms") = JvmRuntime.gcMs
      ctx.layer("runtime.jit_ms") = JvmRuntime.jitMs
      ctx.layer("runtime.code_cache_mb") = JvmRuntime.codeCacheMb
      ctx.layer("runtime.heap_peak_mb") = JvmRuntime.heapPeakMb
      ctx.layer("trace.spans") = spans.length.toDouble
      Trace.write(workDir.getParent.resolve("traces")
        .resolve(s"$workload-seed$seed.jsonl"))
    }
    spark.stop()

    val (specs, values) = if (traced) (perLayer, ctx.layer) else (endToEnd, ctx.e2e)
    val notRun = Pipeline.entries.filterNot(pipelineRun.contains)
      .flatMap(e => perLayer.map(_._1).filter(_.startsWith(s"pipeline.$e.")))
    val missing = specs.map(_._1).filterNot(n =>
      values.get(n).exists(v => !v.isNaN && !v.isInfinite) || (traced && notRun.contains(n)))
    val checks = ctx.checkCounts
    val unchecked = requiredChecks.filterNot(checks.contains) ++
      (if (pipelineRun.nonEmpty) Seq("pipeline_rows_hash")
         .filterNot(checks.contains) else Nil)
    missing.foreach(n => System.err.println(s"[bench] metric $n not measured"))
    unchecked.foreach(n => System.err.println(s"[bench] check $n never ran"))
    val correct = ctx.failed.get == 0 && missing.isEmpty && unchecked.isEmpty

    def num(v: Double) = if (v.isNaN || v.isInfinite) "null" else v.toString
    def obj(kv: Iterable[(String, String)]) =
      kv.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    val metrics = obj(specs.map { case (n, unit) =>
      n -> s"""{"value":${num(values.getOrElse(n, 0.0))},"unit":"$unit"}""" })
    val record = obj(Seq(
      "workload" -> s""""$workload"""", "seed" -> seed.toString,
      "trace" -> traced.toString, "toy" -> toy.toString,
      "ambient_first_s" -> num(ambientFirst), "ambient_last_s" -> num(ambientLast),
      "session_s" -> num(sessionS),
      // share of the host's CPU time stolen by other guests during the run
      "cpu_steal_pct" -> num(100.0 * (steal1._1 - steal0._1) / (steal1._2 - steal0._2)),
      "stage_s" -> obj(stageS.map { case (k, v) => k -> num(v) }),
      "build_cycles_s" -> cycles.map(c => num(c.seconds)).mkString("[", ",", "]"),
      "serving_setup_s" -> num(servingS),
      // traced runs: per span name, total time not covered by child spans
      "span_self_s" -> obj(selfS.toSeq.sorted.map { case (k, v) => k -> num(v) })) ++
      ctx.record ++ Seq(
      "checks" -> obj(checks.toSeq.sorted.map { case (k, (ok, bad)) =>
        k -> s"""{"ok":$ok,"failed":$bad}""" }),
      "missing" -> (missing ++ unchecked).map(m => s""""$m"""").mkString("[", ",", "]"),
      "metrics" -> metrics))
    println(s"# record $record")
    println(obj(Seq("correct" -> correct.toString,
      "attempted" -> ctx.attempted.get.toString,
      "failed" -> ctx.failed.get.toString, "metrics" -> metrics)))
  }

  private def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Fixed-work host control — one driver-CPU leg and one Spark shuffle
    * leg whose cost depends only on the cycles the host gives this run.
    * Timed first and last; a slow pair marks a contended host, not a
    * regression. A diagnostic, not a metric. */
  def ambientControl(spark: SparkSession): Double = {
    import org.apache.spark.sql.functions.{col, sum, xxhash64}
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < 100000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    if (x == 42L) System.err.println("xorshift fixpoint")
    spark.range(1L << 19)
      .select((col("id") % 9973L).as("k"), xxhash64(col("id")).as("h"))
      .groupBy("k").agg(sum(col("h")).as("s")).agg(sum(col("s"))).collect()
    (System.nanoTime() - t0) / 1e9
  }
}
