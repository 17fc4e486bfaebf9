package graftbench

import scala.collection.mutable

import graft.query.{AnnQuery, ServeRouter}

/** Closed-loop warm serving with one client: iteration after
  * iteration, each four operations on one query — PQ
  * `LocalServe.query`, the same query through the two-shard loopback
  * router (whose answer must be bit-identical), PQ `queryFiltered` and
  * `LocalServeSq8.query`. No Spark job runs in the timed loop. */
object Serve {
  // the JIT settles on the router and future machinery only after a
  // few thousand iterations
  private val warmNs = 1000000000L
  // the timed window is cut into sub-windows and the end-to-end figures
  // are medians over them, so a burst of host contention shifts a few
  // sub-windows rather than the whole reading
  private val windowNs = 250000000L

  /** Latencies and iterations of one sub-window. */
  private final class Window(val startNs: Long) {
    val local, remote = new Lat
    var iterations = 0L
    var endNs = startNs
    def qps: Double = iterations * 4 / ((endNs - startNs) / 1e9)
  }

  def run(ctx: Ctx, env: Env, budgetNs: Long): Unit = {
    val sh = ctx.shape
    val qs = Array.tabulate(sh.serveQueries)(ctx.corpus.query)
    val keep: Long => Boolean = _ < 5L // attr = id mod 10 keeps half
    val router = env.router

    // `w` is null during the warm-up, which records neither latencies
    // nor spans
    def iteration(qi: Int, w: Window): Unit = {
      def span[T](name: String)(body: => T): T =
        if (w != null) Trace.span(name)(body) else body
      span("serve.request") {
        val q = qs(qi)
        val t0 = System.nanoTime()
        val local = ctx.op("serve.pq")(span("query.serve.pq") {
          env.serve.query(q, sh.k, sh.nprobe)
        })
        val t1 = System.nanoTime()
        val remote = ctx.op("serve.remote")(span("query.wire.remote") {
          router.query(q, sh.k, sh.nprobe)
        })
        val t2 = System.nanoTime()
        val filtered = ctx.op("serve.filtered")(span("query.serve.filtered") {
          env.filtered.queryFiltered(q, sh.k, sh.nprobe)(keep)
        })
        val t3 = System.nanoTime()
        val sq8 = ctx.op("serve.sq8")(span("query.serve.sq8") {
          env.sq8.query(q, sh.k, sh.nprobe)
        })
        val t4 = System.nanoTime()
        if (w != null) {
          w.local.add(t1 - t0); w.remote.add(t2 - t1)
          w.local.add(t3 - t2); w.local.add(t4 - t3)
          w.iterations += 1
        }
        for (l <- local; r <- remote)
          ctx.check("remote_bit_identical", r.sameElements(l), s"query $qi")
        filtered.foreach(f => ctx.check("filtered_predicate",
          f.length == sh.k && f.forall(h => h._1 % 10 < 5), s"query $qi"))
        sq8.foreach(s => ctx.check("sq8_answers_k", s.length == sh.k, s"query $qi"))
        if (w != null && Trace.enabled && qi % 8 == 0) {
          // the two pure-arithmetic steps of a PQ query, timed apart
          val probes = Trace.span("query.serve.select") {
            AnnQuery.selectPartitions(env.model, q, sh.nprobe)
          }
          Trace.span("query.serve.adc_table") {
            probes.foreach(p => AnnQuery.adcTable(env.model, p._2))
          }
        }
      }
    }

    // set-up's garbage (build inputs, pinning copies) is collected
    // before the window, not in it
    System.gc()
    var i = 0
    val warmUntil = System.nanoTime() + warmNs
    while (System.nanoTime() < warmUntil) { iteration(i % qs.length, null); i += 1 }
    val stopAt = System.nanoTime() + budgetNs
    val windows = mutable.ArrayBuffer.empty[Window]
    while (System.nanoTime() < stopAt) {
      val w = new Window(System.nanoTime())
      val end = math.min(w.startNs + windowNs, stopAt)
      while (System.nanoTime() < end) { iteration(i % qs.length, w); i += 1 }
      w.endNs = System.nanoTime()
      windows += w
    }

    def median(f: Window => Double) = Stats.median(windows.map(f).toSeq)
    ctx.e2e("serve_p50_ms") = median(_.local.pct(0.50)) / 1e6
    ctx.e2e("serve_qps") = median(_.qps)
    ctx.e2e("remote_p50_ms") = median(_.remote.pct(0.50)) / 1e6
    ctx.record("serve_window_qps") = windows.map(w => math.round(w.qps)).mkString("[", ",", "]")
    val local, remote = new Lat
    windows.foreach { w => local.addAll(w.local); remote.addAll(w.remote) }
    ctx.layer("serve_p99_ms") = local.pct(0.99) / 1e6
    ctx.layer("remote_p99_ms") = remote.pct(0.99) / 1e6

    if (Trace.enabled) {
      wireOverhead(ctx, env, qs)
      layerCounts(ctx, env, qs)
      traceOverhead(ctx, env, qs)
    }
  }

  /** The wire's share of a routed query: the loopback router's latency
    * minus that of a router over the same shard servers called in
    * process. Both fan out over the same two inline-compute shards and
    * merge the same way, so the difference is serialisation, sockets
    * and the shard servers' threads. Median over the serve queries,
    * in pairs whose order alternates. */
  private def wireOverhead(ctx: Ctx, env: Env, qs: Array[Array[Double]]): Unit = {
    val sh = ctx.shape
    val (remote, inProcess) = (env.router, env.inProcessRouter)
    def ns(r: ServeRouter, q: Array[Double]): Long = {
      val t0 = System.nanoTime()
      r.query(q, sh.k, sh.nprobe)
      System.nanoTime() - t0
    }
    val diffs = (0 until 4).flatMap { pass =>
      qs.map { q =>
        if (pass % 2 == 0) { val r = ns(remote, q); (r - ns(inProcess, q)).toDouble }
        else { val l = ns(inProcess, q); (ns(remote, q) - l).toDouble }
      }
    }
    ctx.layer("query.wire.overhead_us") = Stats.median(diffs) / 1e3
  }

  /** Rows each PQ query examines (sizes of its probed cells, from the
    * store's cell histogram) and the ADC work that implies. */
  private def layerCounts(ctx: Ctx, env: Env, qs: Array[Array[Double]]): Unit = {
    val sh = ctx.shape
    val sizes = graft.index.IvfPqBuilder.cellHistogram(ctx.spark, env.path)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val scanned = qs.map(q => AnnQuery.selectPartitions(env.model, q, sh.nprobe)
      .map(p => sizes.getOrElse(p._1, 0L)).sum.toDouble)
    val perQuery = scanned.sum / scanned.length
    ctx.layer("query.serve.codes_scanned") = perQuery
    // tables: nprobe × C entries of dim/D squared differences (3 flops
    // per element); scan: one add per division per examined row
    ctx.layer("functions.adc_flops") =
      sh.nprobe.toDouble * sh.codes * sh.dim * 3 + perQuery * sh.divs
    // pinned layout: one Int code per division plus a Long id per row
    ctx.layer("functions.code_bytes_read") = perQuery * (4.0 * sh.divs + 8)
  }

  /** Tracing cost on the hottest call: blocks of the same PQ queries
    * with spans off and on, in pairs whose order alternates; the median
    * of the per-pair ratios. */
  private def traceOverhead(ctx: Ctx, env: Env, qs: Array[Array[Double]]): Unit = {
    val sh = ctx.shape
    def block(traced: Boolean): Double = {
      Trace.enabled = traced
      val t0 = System.nanoTime()
      qs.foreach(q => Trace.span("trace.probe")(env.serve.query(q, sh.k, sh.nprobe)))
      Trace.enabled = true
      (System.nanoTime() - t0).toDouble
    }
    val ratios = (0 until 10).map { i =>
      if (i % 2 == 0) { val off = block(false); block(true) / off }
      else { val on = block(true); on / block(false) }
    }
    ctx.layer("trace.overhead_pct") = (Stats.median(ratios) - 1) * 100
  }
}
