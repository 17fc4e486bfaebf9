package graftbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit, pmod}

import graft.index.{IvfPqBuilder, IvfPqConfig, IvfPqModel, IvfSq8}
import graft.query.{AnnQuery, LocalServe, LocalServeSq8, RemoteShards, ServeRouter, ShardServer}

/** One build cycle: fit, encode, save, load. */
final case class Cycle(model: IvfPqModel, path: String, encoded: DataFrame,
                       codes: DataFrame, seconds: Double)

/** The serving environment every stage starts from: a saved store, the
  * pinned eager servers over it, and two shard servers on loopback over
  * `shards` with one router connected to them. */
final class Env(val path: String, val model: IvfPqModel,
                val encoded: DataFrame, val codes: DataFrame,
                val serve: LocalServe, val filtered: LocalServe,
                val sq8: LocalServeSq8, shards: Seq[LocalServe])
    extends AutoCloseable {
  private val servers = shards.map(s => ShardServer.pq(s))
  private val host = java.net.InetAddress.getLoopbackAddress.getHostAddress
  private val remotes = servers.map(s => RemoteShards.pq(host, s.port))

  /** Router over the shard servers, through the wire. */
  val router: ServeRouter = ServeRouter(model, remotes)

  /** Router over the same shards, called in process. */
  val inProcessRouter: ServeRouter = ServeRouter(model, shards)

  override def close(): Unit = {
    remotes.foreach(_.close())
    servers.foreach(_.close())
  }
}

object Build {
  private val stageRe = """^(\S+) (\d+(?:\.\d+)?) s$""".r
  private val coarseRe = """^coarse-kmeans rounds=(\d+)/\d+$""".r
  private val pqRe = """^pq-kmeans rounds=\d+\.\.(\d+)/\d+$""".r
  private val fitStages = Map(
    "collect-train-sample" -> "index.fit.collect_train_sample_s",
    "coarse-kmeans" -> "index.fit.coarse_kmeans_s",
    "pq-kmeans-all" -> "index.fit.pq_kmeans_s",
    "materialize-residuals" -> "index.fit.materialize_residuals_s")

  def config(ctx: Ctx): IvfPqConfig = {
    val s = ctx.shape
    // tol = 0 runs exactly maxIter Lloyd rounds, so the work of a fit
    // does not depend on when a seed's k-means happens to converge
    IvfPqConfig(numPartitions = s.parts, numDivisions = s.divs,
      numCodes = s.codes, maxIter = s.maxIter, tol = 0.0,
      seed = ctx.corpus.seed)
  }

  def corpusDf(ctx: Ctx): DataFrame = {
    val spark = ctx.spark
    import spark.implicits._
    ctx.corpus.base.indices.map(i => (i.toLong, ctx.corpus.base(i)))
      .toDF("id", "vec").repartition(ctx.spark.sparkContext.defaultParallelism)
      .localCheckpoint()
  }

  /** fit → encode → save → load, each step a traced layer call. */
  def cycle(ctx: Ctx, df: DataFrame): Cycle = Trace.span("index.build") {
    val path = ctx.freshDir("store")
    var rounds = 0.0
    val t0 = ctx.now
    val (fitModel, _) = Trace.span("index.fit") {
      IvfPqBuilder.fit(df, "id", "vec", ctx.shape.dim, config(ctx), {
        case stageRe(name, sec) if fitStages.contains(name) =>
          val end = System.nanoTime()
          Trace.record(fitStages(name).stripSuffix("_s"),
            end - (sec.toDouble * 1e9).toLong, end)
          ctx.sample(fitStages(name), sec.toDouble)
        case coarseRe(r) => rounds += r.toDouble
        case pqRe(r) => rounds += r.toDouble
        case _ => ()
      })
    }
    ctx.sample("index.fit.kmeans_rounds", rounds)
    val encoded = Trace.span("index.encode") {
      IvfPqBuilder.encode(fitModel, df, "id", "vec").localCheckpoint()
    }
    Trace.span("index.save")(IvfPqBuilder.save(fitModel, encoded, path))
    val (model, codes) = Trace.span("index.load")(IvfPqBuilder.load(ctx.spark, path))
    val seconds = (ctx.now - t0) / 1e9
    ctx.sample("index.store_files",
      IvfPqBuilder.parquetFileCount(ctx.spark, s"$path/codes").toDouble)
    Cycle(model, path, encoded, codes, seconds)
  }

  /** The pinned servers every workload serves from, over the store of
    * build cycle `c`: PQ, filtered PQ, SQ8 and two loopback shards. */
  def serving(ctx: Ctx, df: DataFrame, c: Cycle): Env = Trace.span("setup.serving") {
    val m = c.model
    val serve = Trace.span("query.serve.pin")(LocalServe.fromCodes(m, c.codes))
    val filtered = Trace.span("query.serve.pin") {
      LocalServe.fromCodesWithAttrs(m,
        c.codes.withColumn("attr", pmod(col("id"), lit(10L))), "attr")
    }
    val sq8 = Trace.span("index.sq8.fit") {
      val (sqModel, sqEnc) = IvfSq8.fit(df, "id", "vec", ctx.shape.dim,
        numPartitions = ctx.shape.parts, maxIter = ctx.shape.maxIter,
        seed = ctx.corpus.seed)
      LocalServeSq8.fromCodes(sqModel, sqEnc)
    }
    // in-process shards compute inline on their connection threads: the
    // router's fan-out blocks global-pool threads on socket reads, so a
    // shard that also needed that pool could starve behind them
    val shards = (0 until 2).map { i =>
      Trace.span("query.serve.pin")(LocalServe.fromCodes(m,
        c.codes.where(pmod(col("partition"), lit(2)) === i)).withInlineCompute)
    }
    new Env(c.path, m, c.encoded, c.codes, serve, filtered, sq8, shards)
  }

  /** build_s from the set-up cycles, and the checks on the serving
    * index: recall against brute force and a lossless save/load. */
  def check(ctx: Ctx, env: Env, cycles: Seq[Double]): Unit = {
    ctx.e2e("build_s") = Stats.median(cycles)
    val sh = ctx.shape
    val recalls = (0 until sh.recallQueries).flatMap { i =>
      val q = ctx.corpus.query(2000000 + i)
      ctx.op("serve.recall")(env.serve.query(q, sh.k, sh.nprobe)).map(got =>
        AnnQuery.recallAtK(got.map(_._1).toSeq, ctx.corpus.exactTopK(q, sh.k).toSeq))
    }
    val recall = recalls.sum / recalls.length
    ctx.e2e("recall_at_10") = recall
    // a working IVF-PQ index on this clustered data stays well above this
    ctx.check("recall_recomputed", recall >= 0.3, s"recall@10 = $recall")
    val unsaved = LocalServe.fromCodes(env.model, env.encoded)
    (0 until 32).foreach { i =>
      val q = ctx.corpus.query(3000000 + i)
      for (a <- ctx.op("serve.unsaved")(unsaved.query(q, sh.k, sh.nprobe));
           b <- ctx.op("serve.loaded")(env.serve.query(q, sh.k, sh.nprobe)))
        ctx.check("load_roundtrip", a.sameElements(b), s"query $i")
    }
  }
}
