package graft.dedup

import graft.functions.TextFunctions._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Library API for near-duplicate detection over a (doc_id, text)
  * corpus: MinHash signatures -> LSH band buckets -> candidate pairs ->
  * exact-Jaccard verification -> drop decision. The query registry
  * ([[graft.operators.DedupQueries]]) exposes the same stages with
  * DuckDB oracles; this object is the composable DataFrame surface.
  *
  * Scale shape: one md5 pass per token, integer mixes for signatures,
  * candidates from a band-key groupBy (pairs enumerated inside small
  * buckets — the O(n²) pair space never materializes), and only the
  * candidates pay the exact-Jaccard join back to shingle sets.
  */
object NearDup {

  val ShingleN = 3
  val Components = 12
  val RowsPerBand = 3
  val Bands: Int = Components / RowsPerBand

  /** (doc_id, band, band_key): one row per doc per LSH band.
    * The input is spread ([[graft.Tables.spread]]) before the md5-per-
    * token signature pass: per-row compute dominates scan bytes here,
    * and an under-parallel scan (small single-row-group files) would
    * otherwise serialize the whole signature stage. */
  def bands(docs: DataFrame): DataFrame =
    graft.Tables.spread(docs)
      .select(col("doc_id"), tokenHashesOfText(col("text")).as("th"))
      .filter(size(col("th")) >= ShingleN)
      .withColumn("hs", shingleHashesOf(col("th"), ShingleN))
      .withColumn("sig", minhashSignature(col("hs"), Components))
      .select(col("doc_id"), explode(array((0 until Bands).map(b =>
        struct(lit(b).as("band"),
          lshBand(col("sig"), b * RowsPerBand, RowsPerBand)
            .as("band_key"))): _*)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"),
        col("bb.band_key").as("band_key"))

  /** Per-bucket cap: a degenerate corpus (thousands of near-identical
    * docs sharing every band key) must not accumulate one giant bucket
    * and enumerate O(b²) pairs in a single task. Buckets above the cap
    * keep their `MaxBucket` lowest doc_ids — the standard LSH guard.
    * 1000 is far above any organic bucket (bands split 12 minhash
    * components; organic collisions are near-duplicate clusters, which
    * exact-dedup upstream already collapses — see
    * [[graft.Pipeline.curateNearDup]]) while bounding one task's pair
    * enumeration at ~500k structs. */
  val MaxBucket = 1000

  /** Distinct (doc_a < doc_b) candidate pairs from shared band keys.
    *
    * Bucket membership is bounded BEFORE any per-bucket array exists:
    * a window `row_number` over (band, band_key) ranks doc_ids with a
    * spillable sort, so neither the aggregation buffer nor the pair
    * enumeration ever sees more than `maxBucket` rows per bucket. The
    * groupBy reuses the window's hash partitioning — still ONE shuffle.
    * Truncation is never silent: the `lsh_buckets` observe metric
    * reports (oversized_buckets, max_bucket_n); read it post-action via
    * `df.queryExecution.observedMetrics` or a QueryExecutionListener.
    * NOTE: the eager downstream APIs ([[verifiedPairs]],
    * [[dropNearDuplicates]]) checkpoint this frame, severing the observe
    * node from what they return — they surface the report via their
    * `*WithTruncation` variants instead (per-call return values; there
    * is deliberately NO JVM-global "last report": concurrent dedup runs
    * in one JVM must not overwrite each other's reports). */
  def candidatePairs(docs: DataFrame,
      maxBucket: Int = MaxBucket): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byBucket = Window.partitionBy(col("band"), col("band_key"))
    val ids = col("ids")
    bands(docs)
      .withColumn("rn", row_number().over(byBucket.orderBy(col("doc_id"))))
      .withColumn("bucket_n", count(lit(1)).over(byBucket))
      .filter(col("bucket_n") > 1)
      .observe("lsh_buckets",
        sum(when(col("bucket_n") > maxBucket && col("rn") === 1, 1L)
          .otherwise(0L)).as("oversized_buckets"),
        coalesce(max(col("bucket_n")), lit(0L)).as("max_bucket_n"))
      .filter(col("rn") <= maxBucket)
      .groupBy(col("band"), col("band_key"))
      .agg(sort_array(collect_set(col("doc_id"))).as("ids"))
      .filter(size(ids) > 1)
      .select(explode(flatten(transform(ids, (a, i) =>
        transform(slice(ids, i + 2, size(ids)), b =>
          struct(a.as("doc_a"), b.as("doc_b")))))).as("p"))
      .select(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"))
      .distinct()
  }

  /** Incremental candidate pairs: an INCOMING batch checked against an
    * EXISTING corpus and against earlier incoming docs — the continuous-
    * ingest shape. Output: (doc_a, doc_b) where doc_b is always an
    * incoming doc and doc_a is its prior candidate (any existing doc,
    * or an incoming doc with a smaller id). existing×existing pairs are
    * NEVER generated: at 100 TB the corpus side contributes only its
    * band keys (one row per doc per band — precomputable and persisted
    * as a band table between runs, so steady-state incremental cost is
    * the small batch's signature pass plus one equi join), never its
    * O(n²) pair space. Doc ids must be disjoint across the two inputs.
    * The per-bucket cap is the same guard as [[candidatePairs]], over
    * the combined bucket membership. */
  def incrementalCandidatePairs(existing: DataFrame, incoming: DataFrame,
      maxBucket: Int = MaxBucket): DataFrame =
    incrementalCandidatePairsWithTruncation(existing, incoming,
      maxBucket)._1

  /** [[incrementalCandidatePairs]] plus its per-call truncation
    * report. */
  def incrementalCandidatePairsWithTruncation(existing: DataFrame,
      incoming: DataFrame, maxBucket: Int = MaxBucket)
      : (DataFrame, Option[Truncation]) =
    cappedIncrementalPairs(bands(existing), bands(incoming), maxBucket)

  /** Shared incremental candidate machinery over PRE-COMPUTED band
    * frames — the existing side may come from [[bands]] (one-shot use)
    * or from a persisted band table (steady-state continuous ingest,
    * where re-tokenizing the corpus every batch is exactly what must
    * not happen). */
  private def cappedIncrementalPairs(existingBands: DataFrame,
      incomingBands: DataFrame, maxBucket: Int)
      : (DataFrame, Option[Truncation]) = {
    import org.apache.spark.sql.expressions.Window
    val byBucket = Window.partitionBy(col("band"), col("band_key"))
    // localCheckpoint: band rows are tiny (doc_id, band, key, flag) and
    // BOTH self-join sides read them — without it each side re-runs the
    // full tokenize + md5 signature scan (the dominant cost).
    // Truncation is never silent (same contract as [[candidatePairs]]):
    // the observe metric accumulates during the checkpoint action and
    // is surfaced in the returned per-call report.
    val observed = existingBands.withColumn("is_new", lit(false))
      .unionByName(incomingBands.withColumn("is_new", lit(true)))
      .withColumn("rn", row_number().over(byBucket.orderBy(col("doc_id"))))
      .withColumn("bucket_n", count(lit(1)).over(byBucket))
      .observe("lsh_buckets_incremental",
        sum(when(col("bucket_n") > maxBucket && col("rn") === 1, 1L)
          .otherwise(0L)).as("oversized_buckets"),
        coalesce(max(col("bucket_n")), lit(0L)).as("max_bucket_n"))
      .filter(col("rn") <= maxBucket)
      .drop("rn", "bucket_n")
    val capped = observed.localCheckpoint()
    val report = truncationOf(observed, "lsh_buckets_incremental")
    // BROADCAST the incoming side: it is bounded by the BATCH by
    // contract (continuous-ingest batches are micro-batch-sized),
    // while the existing side carries the whole corpus's band rows —
    // without the hint the checkpointed frame has no size stats and
    // the planner falls back to a sort-merge join that SHUFFLES the
    // corpus band table per batch. Broadcasting the batch streams
    // the corpus side through its scan untouched, at any corpus size.
    val pairs = capped.as("a")
      .join(broadcast(capped.filter(col("is_new"))).as("b"),
        col("a.band") === col("b.band") &&
          col("a.band_key") === col("b.band_key") &&
          (!col("a.is_new") || col("a.doc_id") < col("b.doc_id")) &&
          col("a.doc_id") =!= col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    (pairs, report)
  }

  /** Over-cap LSH bucket truncation observed during one eager dedup
    * call: how many buckets exceeded `maxBucket` (and had their tails
    * dropped) and the largest bucket seen. (0, smallish) on organic
    * corpora; a nonzero `oversizedBuckets` means recall was traded for
    * boundedness and the cap (or upstream exact dedup) needs a look. */
  final case class Truncation(oversizedBuckets: Long, maxBucketN: Long)

  /** Read an (oversized_buckets, max_bucket_n) observe metric from a
    * dataset whose plan has already executed (e.g. via localCheckpoint). */
  private def truncationOf(executed: DataFrame,
      metric: String): Option[Truncation] =
    executed.queryExecution.observedMetrics.get(metric)
      .map(r => Truncation(r.getAs[Long]("oversized_buckets"),
        r.getAs[Long]("max_bucket_n")))

  /** Log a truncation report that traded recall for boundedness —
    * the standard sink for call sites that cannot return the report
    * (registry queries, fire-and-forget pipeline stages). Keeping the
    * warn here keeps the non-silent-truncation contract in ONE place;
    * anything that can propagate the report should use the
    * `*WithTruncation` variants instead. */
  def warnIfTruncated(context: String, report: Option[Truncation]): Unit =
    report.filter(_.oversizedBuckets > 0).foreach { t =>
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"$context: ${t.oversizedBuckets} LSH buckets over cap " +
          s"(max ${t.maxBucketN}) — near-dup recall reduced")
    }

  /** [[incrementalCandidatePairs]] verified by exact shingle-set
    * Jaccard >= min: the incoming-batch near-dup check. Only candidate
    * pairs pay the shingle join; an incoming doc appearing as doc_b
    * duplicates prior content and is the drop candidate. */
  def incrementalVerified(existing: DataFrame, incoming: DataFrame,
      minJaccard: Double, maxBucket: Int = MaxBucket): DataFrame =
    incrementalVerifiedWithTruncation(existing, incoming, minJaccard,
      maxBucket)._1

  /** [[incrementalVerified]] plus its per-call truncation report. */
  def incrementalVerifiedWithTruncation(existing: DataFrame,
      incoming: DataFrame, minJaccard: Double,
      maxBucket: Int = MaxBucket): (DataFrame, Option[Truncation]) = {
    val (pairs, report) = incrementalCandidatePairsWithTruncation(
      existing, incoming, maxBucket)
    val cand = pairs.localCheckpoint()
    (verifyJaccard(
      existing.select(col("doc_id"), col("text"))
        .unionByName(incoming.select(col("doc_id"), col("text"))),
      cand, minJaccard), report)
  }

  /** [[incrementalVerified]] with the existing side supplied as its
    * PERSISTED band table (doc_id, band, band_key) — the steady-state
    * continuous-ingest shape: each batch pays its own signature pass
    * plus one columnar scan of the band table; the corpus text is
    * touched ONLY for docs that land in a candidate pair
    * ([[verifyJaccard]]'s semi-join), never re-tokenized wholesale.
    * `existingDocs` must hold (doc_id, text) for every doc with band
    * rows. */
  def incrementalVerifiedWithBands(existingDocs: DataFrame,
      existingBands: DataFrame, incoming: DataFrame, minJaccard: Double,
      maxBucket: Int = MaxBucket): DataFrame =
    incrementalVerifiedWithBandsAndTruncation(existingDocs,
      existingBands, incoming, minJaccard, maxBucket)._1

  /** [[incrementalVerifiedWithBands]] plus its per-call truncation
    * report — what a streaming sink logs per batch. */
  def incrementalVerifiedWithBandsAndTruncation(existingDocs: DataFrame,
      existingBands: DataFrame, incoming: DataFrame, minJaccard: Double,
      maxBucket: Int = MaxBucket): (DataFrame, Option[Truncation]) = {
    val (pairs, report) = cappedIncrementalPairs(
      existingBands.select(col("doc_id"), col("band"), col("band_key")),
      bands(incoming), maxBucket)
    val cand = pairs.localCheckpoint()
    (verifyJaccard(
      existingDocs.select(col("doc_id"), col("text"))
        .unionByName(incoming.select(col("doc_id"), col("text"))),
      cand, minJaccard), report)
  }

  /** Exact-Jaccard verification of a (doc_a, doc_b) candidate frame:
    * shingle sets are computed ONLY for docs that appear in a pair
    * (a semi-join narrows the corpus first), so verification never
    * re-pays the full-corpus tokenize+shingle pass — candidates are a
    * small fraction of the corpus by LSH construction. `cand` must be
    * materialized (checkpointed) by the caller: it is read three times
    * (ids x2, pairs). */
  private def verifyJaccard(docs: DataFrame, cand: DataFrame,
      minJaccard: Double): DataFrame = {
    val ids = cand.select(col("doc_a").as("doc_id"))
      .union(cand.select(col("doc_b").as("doc_id")))
      .distinct()
    // the semi-join shuffles, so the scan arrives distributed and
    // Tables.spread short-circuits; tokenize runs only for members
    val sh = docs.join(ids, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        array_distinct(shinglesOf(col("toks"), ShingleN)).as("sset"))
    cand
      .join(sh.select(col("doc_id").as("doc_a"), col("sset").as("sset_a")),
        "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("sset").as("sset_b")),
        "doc_b")
      .select(col("doc_a"), col("doc_b"),
        (size(array_intersect(col("sset_a"), col("sset_b")))
          .cast("double") /
          size(array_union(col("sset_a"), col("sset_b")))).as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
  }

  /** Candidate pairs verified by exact shingle-set Jaccard >= min.
    * Eager at the candidate stage (one checkpoint job): the candidate
    * set gates which docs pay the shingle pass — see [[verifyJaccard]].
    * Bucket-cap truncation is surfaced via the returned per-call
    * report: the checkpoint severs the `lsh_buckets` observe node, so
    * it is NOT readable from the returned frame. */
  def verifiedPairsWithTruncation(docs: DataFrame, minJaccard: Double,
      maxBucket: Int = MaxBucket): (DataFrame, Option[Truncation]) = {
    val observed = candidatePairs(docs, maxBucket)
    val cand = observed.localCheckpoint()
    val report = truncationOf(observed, "lsh_buckets")
    (verifyJaccard(docs.select(col("doc_id"), col("text")), cand,
      minJaccard), report)
  }

  /** See [[verifiedPairsWithTruncation]] — this keeps the frame-only
    * signature and WARNS on truncation ([[warnIfTruncated]]) since the
    * report has nowhere else to go. */
  def verifiedPairs(docs: DataFrame, minJaccard: Double,
      maxBucket: Int = MaxBucket): DataFrame = {
    val (pairs, report) =
      verifiedPairsWithTruncation(docs, minJaccard, maxBucket)
    warnIfTruncated("verifiedPairs", report)
    pairs
  }

  /** Symmetric edge rows (both orientations of every pair) up to which
    * [[components]] resolves the graph on the driver. The driver then
    * holds at most this many two-long rows plus one union-find entry
    * per node — a few hundred bytes per row counting the collect's
    * serialized and decoded copies, so a few hundred MB at the bound,
    * well inside the smallest (2 GB) driver heap the engine runs with.
    * A fixed constant, not a conf: it is a memory-safety bound, not a
    * tuning knob, and any graph under it costs the driver less than a
    * single distributed round would. Verified near-duplicate edge sets
    * at bench scale sit far below it, as does, by its 48k-node count,
    * the 100x component probe; the weak-perturbation 100x corpus (27M
    * genuine pairs) sits far above and takes the distributed path. */
  val DriverEdges: Int = 1000000

  /** Connected components over an undirected (doc_a, doc_b) edge set:
    * every node labeled with the minimum doc_id reachable from it.
    * Output: (doc_id, comp) for every node that appears in an edge.
    *
    * The symmetric edge set is checkpointed once — the one execution of
    * the caller's candidate/verify subtree — and then resolved on one
    * of two paths, which return the same schema and labels:
    *
    *  - driver: when the edge set has at most [[DriverEdges]] rows
    *    (checked by collecting at most `DriverEdges + 1` of them), a
    *    path-compressed union-find that links every root under the
    *    smaller one computes the min-id labels in one pass, and they
    *    return as a local relation, so downstream joins broadcast them
    *    from driver memory. Cost: the checkpoint plus one collect,
    *    whatever the graph's diameter.
    *  - distributed: larger edge sets (also non-integral ids or a null
    *    endpoint) run iterative min-label propagation with POINTER
    *    JUMPING (the standard Spark formulation when a full Pregel
    *    runtime is overkill): each round propagates labels across edges
    *    AND compresses each label to its label's label, so convergence
    *    takes O(log diameter) rounds — maxIter=20 covers diameters past
    *    2^20, far beyond any real duplicate cluster. Each round is two
    *    joins + an aggregation, with `localCheckpoint` to truncate
    *    lineage. If the cap is hit without convergence the call FAILS
    *    rather than returning silently-wrong labels (q48's oracle
    *    computes the exact closure, so an unconverged result would
    *    diverge). This path stays because it is the only one that runs
    *    on edge sets that do not fit on the driver.
    *
    * The exact alternative to [[dropNearDuplicates]]'s greedy pass:
    * a chain a-b-c groups all three even though (a,c) was never a
    * candidate pair. */
  def components(pairs: DataFrame, maxIter: Int = 20): DataFrame =
    componentsBounded(pairs, maxIter, DriverEdges)

  /** [[components]] with the driver-path bound as an argument; a
    * negative `driverEdges` skips the driver path, so specs can run the
    * distributed path on small graphs. */
  private[graft] def componentsBounded(pairs: DataFrame, maxIter: Int,
      driverEdges: Int): DataFrame = {
    // maxIter=0 would fall through the loop and return per-node
    // self-labels — wrong for ANY nonempty edge set — so reject it up
    // front; the fail-fast contract below must hold for every argument
    require(maxIter >= 1, s"maxIter must be >= 1, got $maxIter")
    // Both edge orientations from ONE pass over the pairs pipeline: an
    // explode of the two oriented copies instead of a self-union (which
    // would duplicate a CollectMetrics observe node — an analysis
    // error — and previously forced a separate materialization of the
    // pairs before the union). The expensive candidate/verify subtree
    // now runs exactly once, inside this single checkpoint.
    // explode_outer + isNotNull per the engine-wide generate rule.
    val edges = pairs
      .select(explode_outer(array(
        struct(col("doc_a").as("src"), col("doc_b").as("dst")),
        struct(col("doc_b").as("src"), col("doc_a").as("dst")))).as("e"))
      .filter(col("e").isNotNull)
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .distinct()
      .localCheckpoint()
    resolveOnDriver(edges, driverEdges)
      .getOrElse(pointerJumping(edges, maxIter))
  }

  /** The driver path of [[components]]: `None` when the symmetric edge
    * set has more than `driverEdges` rows, non-integral ids or a null
    * endpoint — the distributed path keeps its semantics for those. */
  private def resolveOnDriver(edges: DataFrame,
      driverEdges: Int): Option[DataFrame] = {
    import org.apache.spark.sql.types._
    val idType = edges.schema("src").dataType
    val integral = idType match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    }
    if (driverEdges < 0 || !integral) return None
    val rows = edges
      .select(col("src").cast("long"), col("dst").cast("long"))
      .limit(driverEdges + 1).collect()
    if (rows.length > driverEdges ||
        rows.exists(r => r.isNullAt(0) || r.isNullAt(1))) return None
    // each root is linked under the smaller one, so a root is its
    // component's minimum id
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var root = x
      while (parent(root) != root) root = parent(root)
      var a = x
      while (a != root) { val next = parent(a); parent(a) = root; a = next }
      root
    }
    rows.foreach { r =>
      val (a, b) = (r.getLong(0), r.getLong(1))
      parent.getOrElseUpdate(a, a)
      parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val labels = parent.keys.toSeq.map(x =>
      org.apache.spark.sql.Row(x, find(x)))
    // same schema as the distributed path: the id type, nullable
    val schema = StructType(Seq("doc_id", "comp").map(
      StructField(_, LongType, nullable = true)))
    // a local list -> LocalRelation (IvfPq.probeFrom's pattern): joins
    // on the labels broadcast with no staging job, and the cast back to
    // the id type folds into the relation
    Some(edges.sparkSession
      .createDataFrame(java.util.Arrays.asList(labels: _*), schema)
      .select(col("doc_id").cast(idType).as("doc_id"),
        col("comp").cast(idType).as("comp")))
  }

  /** The distributed path of [[components]]: pointer-jumping rounds
    * over the checkpointed symmetric edge set. */
  private def pointerJumping(edges: DataFrame, maxIter: Int): DataFrame = {
    var labels = edges.select(col("src").as("doc_id")).distinct()
      .withColumn("comp", col("doc_id"))
      .localCheckpoint()
    // no edges -> no nodes -> the (empty) labels ARE the fixpoint;
    // don't rely on an observe metric over a zero-row execution
    if (labels.isEmpty) return labels
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      val prop = edges
        .join(labels.withColumnRenamed("doc_id", "src"), "src")
        .select(col("dst").as("doc_id"), col("comp"))
      // carry each node's PREVIOUS label through the fold (prop rows
      // contribute null; min ignores them; every node has exactly one
      // labels row because edges are symmetric), so convergence is
      // decided inside the next checkpoint's own job — no separate
      // compare-join pass per iteration
      val folded = labels.withColumn("prev", col("comp"))
        .unionByName(prop.withColumn("prev", lit(null).cast("long")))
        .groupBy(col("doc_id"))
        .agg(min(col("comp")).as("comp"), min(col("prev")).as("prev"))
        .localCheckpoint()
      // pointer jumping: l(x) := min(l(x), l(l(x))) — halves the
      // distance to the component minimum every round
      val jumped = folded
        .join(folded.select(col("doc_id").as("comp"),
          col("comp").as("comp2")), Seq("comp"), "left")
        .select(col("doc_id"),
          least(col("comp"), coalesce(col("comp2"), col("comp")))
            .as("comp"),
          col("prev"))
        // labels only ever decrease, so "no label decreased" IS the
        // fixpoint; the metric accumulates during the checkpoint action
        .observe(s"cc_converge_$i",
          sum(when(col("comp") < col("prev"), 1L).otherwise(0L))
            .as("changed"))
      val pruned = jumped.select(col("doc_id"), col("comp"))
      val next = pruned.localCheckpoint()
      // read from the dataset whose plan the checkpoint action executed
      converged = pruned.queryExecution.observedMetrics
        .get(s"cc_converge_$i")
        .exists(r => Option(r.get(0)).forall(_ == 0L))
      labels = next
      i += 1
    }
    require(converged,
      s"components did not converge within $maxIter rounds — " +
        "raise maxIter (pointer jumping covers diameter 2^maxIter)")
    labels
  }

  /** Greedy keep-lowest near-dedup: drop every doc that is the higher
    * id of a verified pair. (Greedy, not connected-components: in a
    * chain a-b-c it keeps a and may keep c if (a,c) was no candidate —
    * the standard single-pass approximation; [[components]] is the
    * exact grouping.) */
  def dropNearDuplicates(docs: DataFrame, minJaccard: Double,
      maxBucket: Int = MaxBucket): DataFrame = {
    val (kept, report) =
      dropNearDuplicatesWithTruncation(docs, minJaccard, maxBucket)
    warnIfTruncated("dropNearDuplicates", report)
    kept
  }

  /** [[dropNearDuplicates]] plus its per-call truncation report. */
  def dropNearDuplicatesWithTruncation(docs: DataFrame,
      minJaccard: Double, maxBucket: Int = MaxBucket)
      : (DataFrame, Option[Truncation]) = {
    val (pairs, report) =
      verifiedPairsWithTruncation(docs, minJaccard, maxBucket)
    val toDrop = pairs.select(col("doc_b").as("doc_id")).distinct()
    (docs.join(toDrop, Seq("doc_id"), "left_anti"), report)
  }
}
