package graftbench

import scala.collection.mutable

import graft.attrs.VectorAttributes
import graft.index.IvfPqBuilder
import graft.query.{AnnQuery, LocalServe, LocalServeLazy}

/** Writes beside reads on the saved store, with the model frozen.
  * Each round appends a batch, tombstones a slice of old ids and tags
  * the new rows; then a Spark batch query over the live view with an
  * attribute fetch on its hits; then skewed queries through a lazy
  * server under a cell cap. Two rounds, then a compaction and a
  * re-query. With `lazyFits` the cap holds every cell; without it, the
  * cap holds three quarters of the cells the round's query stream
  * probes (its working set), so the tier keeps loading and evicting. */
object Churn {
  def run(ctx: Ctx, env: Env, lazyFits: Boolean): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val sh = ctx.shape
    val path = env.path
    val model = env.model
    val deleted = mutable.Set.empty[Long]
    val victims = {
      val r = new java.util.Random(ctx.corpus.seed)
      val ids = Array.tabulate(sh.rows)(_.toLong)
      for (i <- ids.length - 1 to 1 by -1) {
        val j = r.nextInt(i + 1); val t = ids(i); ids(i) = ids(j); ids(j) = t
      }
      ids
    }
    val batchQ = (0 until sh.batchQueries)
      .map(i => (i.toLong, ctx.corpus.query(4000000 + i).map(_.toFloat)))
      .toDF("qid", "qvec")
    val writeS, batchQps = mutable.ArrayBuffer.empty[Double]
    val lazyLat, coldLat = new Lat
    var probes, probeHits, coldLoads, evictions = 0L
    var residentBytes = 0L
    val workingSets, caps, hitRatios = mutable.ArrayBuffer.empty[Double]

    var eager: LocalServe = null

    def noneDeleted(ids: Iterable[Long]) = ids.forall(id => !deleted.contains(id))

    // the eager server that checks lazy answers is pinned after the last
    // round only; compaction is checked against it too
    def round(r: Int, last: Boolean): Unit = Trace.span("churn.round") {
      val newIds = (0 until sh.appendRows).map(j => sh.rows.toLong + r * sh.appendRows + j)
      val batch = newIds.map(id => (id, ctx.corpus.vector(id))).toDF("id", "vec")
      val dead = victims.slice(r * sh.deleteRows, (r + 1) * sh.deleteRows).toSeq
      val tags = newIds.map(id => (id, "tag", Option.empty[String], id % 1000))
        .toDF("vector_id", "name", "value_str", "value_u64")

      val t0 = ctx.now
      ctx.op("churn.append")(Trace.span("index.store.append") {
        IvfPqBuilder.appendToStore(model, batch, "id", "vec", path)
      })
      ctx.op("churn.delete")(Trace.span("index.store.delete") {
        IvfPqBuilder.deleteFromStore(path, dead.toDF("id"), "id")
      })
      ctx.op("churn.attrs")(Trace.span("attrs.set") {
        VectorAttributes.setAttributes(path, tags)
      })
      writeS += (ctx.now - t0) / 1e9
      deleted ++= dead

      val b0 = ctx.now
      ctx.op("churn.batch") {
        val (hits, work) = ctx.acct.measure("query.batch") {
          Trace.span("query.batch.adc") {
            val (m, live) = IvfPqBuilder.load(spark, path)
            val df = AnnQuery.batchTopKAdc(live, m, batchQ, "qid", "qvec",
              sh.k, sh.nprobe)
            val rows = df.collect()
            if (Trace.enabled)
              ctx.sample("query.batch.plan_ms", df.queryExecution.tracker
                .phases.values.map(p => p.endTimeMs - p.startTimeMs).sum.toDouble)
            rows
          }
        }
        val ids = hits.map(_.getLong(1)).distinct.toSeq
        val fetched = Trace.span("attrs.fetch") {
          VectorAttributes.getAttributeFor(spark, path, ids.toDF("id"), "id", "tag")
            .collect()
        }
        batchQps += sh.batchQueries / ((ctx.now - b0) / 1e9)
        if (Trace.enabled) {
          ctx.sample("query.batch.jobs", work.jobs.toDouble)
          ctx.sample("query.batch.tasks", work.tasks.toDouble)
          ctx.sample("query.batch.task_s", work.taskS)
        }
        ctx.check("batch_rows_qk", hits.length == sh.batchQueries * sh.k,
          s"${hits.length} rows for ${sh.batchQueries} queries")
        ctx.check("deleted_absent", noneDeleted(ids), "batch hit a deleted id")
        ctx.check("attrs_fetch_consistent",
          fetched.forall(f => f.getLong(2) == f.getLong(0) % 1000) &&
            fetched.length == ids.count(_ >= sh.rows), s"${fetched.length} tags")
      }

      val qs = Array.tabulate(sh.lazyQueries)(ctx.corpus.skewedQuery(r, _))
      val probeSets = qs.map(q =>
        AnnQuery.selectPartitions(model, q, sh.nprobe).map(_._1))
      val workingSet = probeSets.flatten.distinct.length
      val cap = if (lazyFits) sh.parts else math.max(sh.nprobe, workingSet * 3 / 4)
      workingSets += workingSet
      caps += cap
      val lz = Trace.span("query.residency.open") {
        LocalServeLazy.fromStore(spark, path, maxResidentCells = cap)
      }
      val (probes0, hits0) = (probes, probeHits)
      val answers = qs.zip(probeSets).map { case (q, probed) =>
        val resident = lz.cells.toSet
        probes += probed.length
        probeHits += probed.count(resident)
        val c0 = lz.coldLoads
        val t = ctx.now
        val a = ctx.op("churn.lazy")(Trace.span("query.residency.query") {
          lz.query(q, sh.k, sh.nprobe)
        })
        val ns = ctx.now - t
        lazyLat.add(ns)
        if (lz.coldLoads > c0) coldLat.add(ns)
        a
      }
      hitRatios += (probeHits - hits0).toDouble / (probes - probes0)
      coldLoads += lz.coldLoads
      evictions += lz.coldLoads - lz.cells.length
      residentBytes = lz.residentBytes
      answers.foreach(_.foreach(got =>
        ctx.check("deleted_absent", noneDeleted(got.map(_._1)), "lazy hit a deleted id")))
      if (last) {
        eager = LocalServe.fromStore(spark, path)
        qs.zip(answers).foreach { case (q, a) =>
          for (got <- a; want <- ctx.op("churn.eager")(eager.query(q, sh.k, sh.nprobe)))
            ctx.check("lazy_bit_identical", got.sameElements(want), s"round $r")
        }
      }
    }

    round(0, last = false)
    round(1, last = true)

    // maintenance: fold appends and tombstones back, answers unchanged
    val checkQs = (0 until 32).map(i => ctx.corpus.query(5000000 + i))
    val filesBefore = IvfPqBuilder.parquetFileCount(spark, s"$path/codes")
    val tombstones =
      if (Trace.enabled) spark.read.parquet(s"$path/tombstones").count() else 0L
    val pre = checkQs.map(q => ctx.op("churn.eager")(eager.query(q, sh.k, sh.nprobe)))
    val c0 = ctx.now
    ctx.op("churn.compact")(Trace.span("index.store.compact") {
      IvfPqBuilder.compactStore(spark, path)
    })
    ctx.e2e("compact_s") = (ctx.now - c0) / 1e9
    val after = LocalServe.fromStore(spark, path)
    checkQs.zip(pre).foreach { case (q, p) =>
      for (want <- p; got <- ctx.op("churn.compacted")(after.query(q, sh.k, sh.nprobe))) {
        ctx.check("compact_unchanged", got.sameElements(want), "answer changed")
        ctx.check("deleted_absent", noneDeleted(got.map(_._1)), "compacted store")
      }
    }
    ctx.e2e("store_bytes_per_vector") = treeBytes(s"$path/codes").toDouble / after.size

    ctx.e2e("append_s") = Stats.median(writeS.toSeq)
    ctx.e2e("batch_qps") = Stats.median(batchQps.toSeq)
    ctx.e2e("lazy_p50_ms") = lazyLat.pct(0.50) / 1e6
    ctx.e2e("lazy_p99_ms") = lazyLat.pct(0.99) / 1e6
    ctx.record("lazy_working_set_cells") = workingSets.map(_.toInt).mkString("[", ",", "]")
    ctx.record("lazy_cap_cells") = caps.map(_.toInt).mkString("[", ",", "]")
    ctx.record("lazy_hit_ratio") = hitRatios.map(_.toString).mkString("[", ",", "]")
    if (Trace.enabled) {
      ctx.layer("index.store.files_before_compact") = filesBefore.toDouble
      ctx.layer("index.store.files_after_compact") =
        IvfPqBuilder.parquetFileCount(spark, s"$path/codes").toDouble
      ctx.layer("index.store.tombstones") = tombstones.toDouble
      ctx.layer("query.residency.cold_loads") = coldLoads.toDouble
      ctx.layer("query.residency.hit_ratio") = probeHits.toDouble / probes
      ctx.layer("query.residency.working_set_cells") = Stats.median(workingSets.toSeq)
      ctx.layer("query.residency.evictions") = evictions.toDouble
      ctx.layer("query.residency.resident_bytes") = residentBytes.toDouble
      ctx.layer("query.residency.cold_query_ms") = coldLat.pct(0.5) / 1e6
    }
  }

  def treeBytes(path: String): Long = {
    def walk(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L)
      else f.length()
    walk(new java.io.File(path))
  }
}
