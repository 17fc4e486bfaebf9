package graftbench

import org.apache.spark.sql.functions.{col, count, lit, round, sum, xxhash64}
import org.apache.spark.sql.types.{DoubleType, FloatType}

import graft.SparkEntry

/** The `pipeline_*` composites and `dedup_minhash_lsh` over the fixed
  * tables in the benchmark's data directory, each accounted under its
  * own job group. Each entry's output must match the row count and the
  * order-independent content hash recorded here. */
object Pipeline {
  val entries: Seq[String] = Seq("pipeline_vector_end_to_end",
    "pipeline_web_end_to_end", "pipeline_end_to_end",
    "pipeline_stream_end_to_end", "dedup_minhash_lsh")

  /** (rows, hash) of each entry's output on the bundled tables. */
  val expected: Map[String, (Long, Long)] = Map(
    "pipeline_vector_end_to_end" -> (1L, 534570178677496326L),
    "pipeline_web_end_to_end" -> (167L, 3264701763476241579L),
    "pipeline_end_to_end" -> (1L, -8255999393256403858L),
    "pipeline_stream_end_to_end" -> (451L, 7662312525993464609L),
    "dedup_minhash_lsh" -> (9020L, -7947552534268575074L))

  /** Runs `names` (all entries, or fewer in toy mode) after warming the
    * shared fixtures, and records the per-entry layer metrics. */
  def run(ctx: Ctx, dataDir: String, warm: Boolean, names: Seq[String]): Unit = {
    val spark = ctx.spark
    if (warm) Trace.span("pipeline.warm_fixtures")(SparkEntry.warmFixtures(spark, dataDir))
    names.foreach { name =>
      val t0 = ctx.now
      val got = ctx.op(name) {
        ctx.acct.measure(s"pipeline.$name")(Trace.span(s"pipeline.$name") {
          val df = SparkEntry.queries(name)(spark, dataDir)
          // doubles are rounded so the hash does not depend on the
          // summation order of a parallel aggregate
          val cols = df.schema.fields.map { f =>
            f.dataType match {
              case DoubleType | FloatType => round(col(f.name), 6)
              case _ => col(f.name)
            }
          }
          val r = df.select(xxhash64(cols.toIndexedSeq: _*).as("h"))
            .agg(count(lit(1)), sum(col("h"))).head()
          (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
        })
      }
      val s = (ctx.now - t0) / 1e9
      got.foreach { case ((rows, hash), work) =>
        System.err.println(s"[pipeline] $name rows=$rows hash=$hash ${s}s")
        ctx.check("pipeline_rows_hash", expected.get(name).contains((rows, hash)),
          s"$name: rows=$rows hash=$hash, expected ${expected.get(name)}")
        ctx.layer(s"pipeline.$name.s") = s
        ctx.layer(s"pipeline.$name.jobs") = work.jobs.toDouble
        ctx.layer(s"pipeline.$name.tasks") = work.tasks.toDouble
        ctx.layer(s"pipeline.$name.task_s") = work.taskS
        ctx.layer(s"pipeline.$name.shuffle_mb") = work.shuffleMb
      }
    }
  }
}
