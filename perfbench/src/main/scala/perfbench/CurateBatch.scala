package perfbench

import graft.GraftQuery
import graft.operators.{CurationQueries, DedupQueries}

/** The serial driver chain: the five longest driver chains of the dedup
  * and curation registries over a seeded document corpus, each into the
  * `noop` sink. A warm pass over every query of the dedup, curation, text
  * and CVE families takes about 22 s on 4 cores, more than one run can
  * spend. Warm-up runs the same queries into parquet, and those outputs
  * are what the DuckDB oracle checks. */
final class CurateBatch extends Workload {
  // the DuckDB oracle's all-pairs SQL dominates the run's check time and
  // grows with the document count
  val sizes = Gen.Sizes(docs = 300, embeddings = 200, events = 1500,
    orders = 500, parts = 200, customers = 200, lineitems = 1000)
  val dupShare = 0.08
  private var dir = ""
  private var nearDups = 0
  // five reads a pass: one pass leaves the median and tail to a single
  // query's latency, which co-tenant load moves by 20 %
  override def minPasses: Int = 2

  private val picked = Set("q112_curate_full", "q84_cluster_survivor",
    "q48_near_dup_components", "q46_lsh_verified_dedup",
    "q89_incremental_dedup")
  private val queries: Seq[(String, GraftQuery)] =
    (DedupQueries.all.map("DedupQueries" -> _) ++
      CurationQueries.all.map("CurationQueries" -> _))
      .filter { case (_, q) => picked(q.name) }

  def inputs: Map[String, Any] = Map("documents" -> sizes.docs,
    "embeddings" -> sizes.embeddings, "events" -> sizes.events,
    "orders" -> sizes.orders, "part" -> sizes.parts,
    "near_dup_share" -> dupShare, "queries" -> queries.size)

  def setup(ctx: Ctx, d: String): Unit = {
    dir = d
    nearDups = Gen.tables(ctx.spark, d, ctx.seed, sizes, dupShare).size
  }

  /** One pass with every output written to parquet for the DuckDB oracle. */
  def warmup(ctx: Ctx): Unit = {
    val out = s"${ctx.root}/oracle_out"
    for ((_, q) <- queries) {
      try q.run(ctx.spark, dir).write.mode("overwrite").parquet(s"$out/${q.name}")
      catch {
        case e: Throwable => ctx.check(s"warmup.${q.name}", ok = false, e.toString)
      }
    }
    val w = new java.io.PrintWriter(s"$out/oracle_sql.json", "UTF-8")
    try w.write(Json(queries.flatMap { case (_, q) => q.oracle.map(q.name -> _) }.toMap))
    finally w.close()
  }

  def pass(ctx: Ctx): Unit =
    for ((family, q) <- queries)
      ctx.rec.op("read", s"operators.$family", q.name) { s =>
        val df = q.run(ctx.spark, dir)
        ctx.rec.built(s)
        df.write.format("noop").mode("overwrite").save()
      }

  def check(ctx: Ctx): Unit = {
    val failed = ctx.rec.ops.filterNot(_.ok).map(_.name).distinct
    ctx.check("every query ran", failed.isEmpty, failed.mkString(","))
    ctx.extras("near_dups") = nearDups.toDouble
    // the DuckDB comparison of the warm-up outputs runs after the JVM exits
    ctx.paths("oracle_input") = dir
    ctx.paths("oracle_output") = s"${ctx.root}/oracle_out"
  }
}
