package graft

import graft.functions.TextFunctions._
import graft.functions.VectorFunctions
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The end-to-end training-data pipeline (SURVEY.md §7 module 7): the
  * driver-program equivalent of the reference's Airflow DAG
  * (`/root/reference/airflow/dags/etl.py:164-197`), generalized to the
  * LLM-corpus shape — ingest -> exact-dedup -> quality-filter ->
  * featurize -> write corpus + vector index tables.
  *
  * Every stage is a DataFrame transform; the only shuffles are the
  * dedup aggregation (on a 32-byte uniform fingerprint — no skew) and
  * the final write repartition. At 100 TB this runs as one job chain
  * with no driver-side iteration.
  */
object Pipeline {

  /** Corpus curation: drop exact duplicates (keep lowest id per
    * fingerprint), keep docs above the quality threshold. The returned
    * frame carries `observe` metrics ("graft.curate": rows kept, mean
    * quality) that any QueryExecutionListener can collect per run —
    * free production telemetry, no extra job. */
  def curate(docs: DataFrame, minQuality: Double = 0.3): DataFrame = {
    val keep = docs
      .select(col("doc_id"), fingerprint(col("text")).as("fp"))
      .groupBy(col("fp")).agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))
    docs.join(keep, "doc_id")
      .select(col("doc_id"), col("text"), col("lang"), col("source"),
        tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("text"), col("lang"), col("source"),
        qualityScoreOf(col("text"), col("toks")).as("quality"))
      .filter(col("quality") >= minQuality)
      .observe("graft.curate",
        count(lit(1)).as("rows_kept"),
        avg(col("quality")).as("mean_quality"))
  }

  /** Curation with near-duplicate removal layered on [[curate]]:
    * exact dedup + quality filter first (cheap), then MinHash/LSH +
    * exact-Jaccard verified near-dup drop over the survivors. */
  def curateNearDup(docs: DataFrame, minQuality: Double = 0.3,
      minJaccard: Double = 0.8): DataFrame =
    // localCheckpoint: the curated frame feeds the LSH bands, both
    // sides of the shingle-verification join, and the final anti-join
    // probe — without it the fingerprint groupBy + quality pass would
    // re-execute per consumer (and its observe node would repeat in
    // one plan). Materializing here runs curation eagerly, once.
    {
      val (kept, truncation) =
        graft.dedup.NearDup.dropNearDuplicatesWithTruncation(
          curate(docs, minQuality).localCheckpoint(), minJaccard)
      graft.dedup.NearDup.warnIfTruncated("curateNearDup", truncation)
      kept
    }

  /** Exact-grouping variant of [[curateNearDup]]: connected components
    * over the verified pairs pick ONE representative (lowest doc_id)
    * per duplicate cluster, so a chain a-b-c keeps only a — where the
    * greedy drop could keep both a and c when (a,c) was never a
    * candidate pair. Costs one more collect of the verified edge set
    * ([[graft.dedup.NearDup.components]] resolves it on the driver when
    * it fits). */
  def curateNearDupExact(docs: DataFrame, minQuality: Double = 0.3,
      minJaccard: Double = 0.8): DataFrame = {
    val curated = curate(docs, minQuality).localCheckpoint()
    val (pairs, truncation) = graft.dedup.NearDup
      .verifiedPairsWithTruncation(curated, minJaccard)
    graft.dedup.NearDup.warnIfTruncated("curateNearDupExact", truncation)
    val comps = graft.dedup.NearDup.components(pairs)
    val drop = comps.filter(col("doc_id") =!= col("comp"))
      .select(col("doc_id"))
    curated.join(drop, Seq("doc_id"), "left_anti")
  }

  /** The COMPLETE curation chain a pretraining-corpus run executes,
    * composing the engine's stages end-to-end — each individually
    * oracle-checked by its registry query, each a DataFrame transform:
    *
    *  1. exact dedup + quality floor ([[curate]] — q40/q31 semantics);
    *  2. token-length outlier trim at the corpus p1/p99 (q104) — cheap
    *     and high-yield, so it runs BEFORE the expensive pair stage;
    *  3. near-dup removal, exact component grouping with lowest-id
    *     survivor ([[curateNearDupExact]] — q46/q48/q84 semantics);
    *  4. temperature source rebalancing (sqrt-quota, q102) — LAST, so
    *     quotas reflect the cleaned per-source populations.
    *
    * Output keeps (doc_id, text, lang, source, quality, n_tokens) and
    * carries a "graft.curate_full" observe metric (rows and tokens
    * kept) for per-run telemetry. Shuffle inventory: fingerprint agg,
    * percentile agg (tiny), LSH band agg + verification joins,
    * components over the (small) pair set, per-source window —
    * every key uniform or per-source, nothing corpus-quadratic. */
  def curateFull(docs: DataFrame, minQuality: Double = 0.3,
      minJaccard: Double = 0.8, quotaScale: Double = 4.0,
      stageSeconds: Option[scala.collection.mutable.Map[String, Double]] =
        None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // stage boundaries are the eager materializations the chain already
    // has (each feeds 2+ consumers) — `stageSeconds` records the wall
    // time to reach each one, so a probe can attribute cost per stage
    // without re-running prefix chains; the returned frame's own action
    // then measures only the final (lazy) rebalance pass
    var t0 = System.nanoTime()
    def mark(stage: String): Unit = stageSeconds.foreach { m =>
      val t1 = System.nanoTime()
      m.update(stage, (t1 - t0) / 1e9)
      t0 = t1
    }
    val counted = curate(docs, minQuality)
      .withColumn("n_tokens", tokenCountOf(tokens(col("text"))))
      .localCheckpoint() // percentile pass + filter both read it
    mark("1_exact_dedup_quality")
    // one percentile buffer for both trim bounds (array form — see
    // q68's note; bit-identical interpolation per quantile), collected
    // to the driver: the trim then becomes a LITERAL filter over the
    // stage-1 checkpoint, so `trimmed` stays a cheap plan its three
    // consumers (bands, verification, the anti-join probe) re-filter
    // from the materialized RDD — the previous localCheckpoint here
    // wrote a second, nearly corpus-sized copy of stage 1 only to
    // avoid re-running the two-number percentile subquery per
    // consumer (§5: don't store what a literal predicate recomputes).
    val statsRow = counted.agg(
      expr("percentile(n_tokens, array(0.01D, 0.99D))").as("lohi"))
      .select(element_at(col("lohi"), 1).as("lo"),
        element_at(col("lohi"), 2).as("hi")).head()
    def bound(i: Int) =
      if (statsRow.isNullAt(i)) lit(null).cast("double")
      else lit(statsRow.getDouble(i))
    val trimmed = counted
      .filter(col("n_tokens") >= bound(0) && col("n_tokens") <= bound(1))
    mark("2_outlier_trim")
    val (pairs, truncation) = graft.dedup.NearDup
      .verifiedPairsWithTruncation(trimmed, minJaccard)
    graft.dedup.NearDup.warnIfTruncated("curateFull", truncation)
    val comps = graft.dedup.NearDup.components(pairs)
    mark("3_near_dup_components")
    // two consumers (the quota aggregation and the final window join):
    // materialize once rather than re-running the anti-join's probe
    // scan per consumer — the drop side is small (dup survivors), so
    // this stores one cleaned-corpus pass, same as the scan it saves
    val drop = comps.filter(col("doc_id") =!= col("comp"))
      .select(col("doc_id"))
    val deduped = trimmed.join(drop, Seq("doc_id"), "left_anti")
      .localCheckpoint()
    mark("4_dedup_apply")
    val quota = deduped.groupBy(col("source"))
      .agg(count(lit(1)).as("n"))
      .select(col("source"), least(col("n"),
        floor(sqrt(col("n").cast("double")) * quotaScale).cast("long"))
        .as("quota"))
    val w = Window.partitionBy(col("source")).orderBy(
      md5(concat(lit("resamp#"), col("doc_id").cast("string"))),
      col("doc_id"))
    deduped.withColumn("rk", row_number().over(w))
      .join(broadcast(quota), "source")
      .filter(col("rk") <= col("quota"))
      .drop("rk", "quota")
      .observe("graft.curate_full",
        count(lit(1)).as("rows_kept"),
        sum(col("n_tokens")).as("tokens_kept"))
  }

  /** One step of INCREMENTAL curation — the continuous-ingest form of
    * [[curate]], shaped so a manifest-backed corpus can be its spine
    * (q131 composes it over [[graft.sinks.ManifestTable.readSince]]):
    * quality-filter the incoming batch, keep the lowest-id doc per
    * fingerprint WITHIN the batch, then drop every fingerprint the
    * curated corpus already admitted. The admission order is
    * filter-then-dedup (a rejected doc never blocks a later passing
    * twin), which is what makes the state EXACTLY the curated table
    * itself: no separate seen-fp ledger, and the anti-join probe
    * reads only the corpus table's `fp` column (column-pruned — the
    * corpus text is never re-read, q92's scale shape). Fed ascending
    * ingest order, the accumulated table equals the one-shot batch
    * computation (PipelineSpec pins it; q131's oracle recomputes it
    * in SQL). Output schema: (doc_id, text, lang, source, quality,
    * fp) — the fp column IS the incremental state for the next step.
    *
    * Contract: `doc_id` should be unique within a batch and ingest
    * ascending across batches (convergence to the one-shot oracle
    * depends on the cross-batch order, like any first-writer-wins
    * dedup). Within-batch winners are picked by a row_number window
    * over fp, so a batch that DOES carry duplicate doc_ids still
    * admits exactly one row per fingerprint — a doc_id-equality join
    * here would fan duplicated ids out and admit several. */
  def curateIncrement(batch: DataFrame, curated: Option[DataFrame],
      minQuality: Double = 0.5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val passing = batch
      .select(col("doc_id"), col("text"), col("lang"), col("source"),
        tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("text"), col("lang"), col("source"),
        qualityScoreOf(col("text"), col("toks")).as("quality"),
        fingerprint(col("text")).as("fp"))
      .filter(col("quality") >= minQuality)
    // one shuffle on fp (same key the groupBy would use), picking THE
    // lowest-id row per fingerprint — exactly one winner even under
    // duplicate doc_id values
    val winners = passing
      .withColumn("_rn", row_number().over(
        Window.partitionBy(col("fp")).orderBy(col("doc_id"))))
      .filter(col("_rn") === 1)
      .select(col("doc_id"), col("text"), col("lang"), col("source"),
        col("quality"), col("fp"))
    curated match {
      case Some(c) => winners.join(c.select(col("fp")), Seq("fp"),
        "left_anti")
        .select(col("doc_id"), col("text"), col("lang"), col("source"),
          col("quality"), col("fp"))
      case None => winners
    }
  }

  /** Featurize the curated corpus into a vector-index table. */
  def index(curated: DataFrame, dim: Int = 64): DataFrame =
    VectorFunctions.featurizeInto(
      curated.select(col("doc_id").as("vec_id"), col("text")),
      "text", "embedding", dim)
      .select(col("vec_id"), col("embedding"))

  /** Run the full chain: documents parquet -> curated corpus table +
    * vector index table. Returns (corpus rows, index rows). */
  def run(spark: SparkSession, docsPath: String, corpusOut: String,
      indexOut: String, minQuality: Double = 0.3,
      dim: Int = 64): (Long, Long) = {
    val docs = spark.read.parquet(docsPath)
    val curated = curate(docs, minQuality)
    curated.write.mode("overwrite").parquet(corpusOut)
    // the overwrite may have replaced files at a path already probed by
    // Tables.spread in this session — drop stale parallelism decisions
    Tables.invalidateSpreadCache()
    // read the written corpus ONCE and reuse it for both the featurize
    // input and the row count (it was previously re-scanned per use)
    val written = spark.read.parquet(corpusOut).cache()
    index(written, dim).write.mode("overwrite").parquet(indexOut)
    val n1 = written.count()
    val n2 = spark.read.parquet(indexOut).count()
    written.unpersist()
    (n1, n2)
  }

  def main(args: Array[String]): Unit = {
    val docsPath = if (args.length > 0) args(0)
      else "/root/testdata/sf0.001/documents.parquet"
    val outDir = if (args.length > 1) args(1)
      else java.nio.file.Files.createTempDirectory("graft-pipeline").toString
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val (nc, ni) = run(spark, docsPath, s"$outDir/corpus", s"$outDir/index")
    println(s"""{"corpus_rows":$nc,"index_rows":$ni,"out":"$outDir"}""")
    spark.stop()
  }
}
