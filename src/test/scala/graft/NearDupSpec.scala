package graft

import graft.dedup.NearDup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Adversarial-input guarantees of the near-dup library API: a
  * degenerate corpus (every doc identical) must not blow up one LSH
  * bucket into an O(n²) pair enumeration in a single task. */
class NearDupSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** The two resolution paths of [[NearDup.components]], each with the
    * bound that selects it; every components case runs on both. */
  private val componentPaths =
    Seq("driver" -> NearDup.DriverEdges, "distributed" -> -1)

  private def corpus(rows: Seq[(Long, String)]) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  test("degenerate corpus: band buckets are capped, truncation observed") {
    // 5k identical docs share every band key -> 4 buckets of 5000.
    val docs = corpus((0L until 5000L).map(i =>
      i -> "the quick brown fox jumps over the lazy dog"))
    val cap = 64
    val pairs = NearDup.candidatePairs(docs, maxBucket = cap)
    // collect() executes `pairs`' own QueryExecution, which is where the
    // observe metrics accumulate (count() would plan a separate one).
    val n = pairs.collect().length
    // Each of the 4 bands keeps the same 64 lowest doc_ids -> the
    // distinct pair set is C(64, 2), not C(5000, 2) = 12.5M.
    assert(n === cap * (cap - 1) / 2)
    val m = pairs.queryExecution.observedMetrics("lsh_buckets")
    assert(m.getAs[Long]("oversized_buckets") === 4L)
    assert(m.getAs[Long]("max_bucket_n") === 5000L)
  }

  test("cap above the largest bucket leaves the pair set unchanged") {
    val docs = corpus(Seq(
      1L -> "alpha beta gamma delta epsilon zeta",
      2L -> "alpha beta gamma delta epsilon zeta",
      3L -> "alpha beta gamma delta epsilon eta",
      4L -> "one two three four five six seven"))
    val capped = NearDup.candidatePairs(docs, maxBucket = 3)
      .orderBy("doc_a", "doc_b").collect().toSeq
    val uncapped = NearDup.candidatePairs(docs, maxBucket = 1000000)
      .orderBy("doc_a", "doc_b").collect().toSeq
    assert(capped === uncapped)
    assert(capped.nonEmpty)
  }

  test("components groups a chain transitively; greedy drop does not") {
    import spark.implicits._
    // Chain 1-2, 2-3 plus a separate pair 7-8: components must label
    // {1,2,3} with 1 even though (1,3) was never a pair.
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("doc_a", "doc_b")
    componentPaths.foreach { case (path, bound) =>
      val got = NearDup.componentsBounded(pairs, 20, bound)
        .orderBy("doc_id").as[(Long, Long)].collect().toSeq
      assert(got === Seq(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 8L -> 7L),
        s"$path path")
    }
  }

  test("components converges on a long path within the iteration cap") {
    import spark.implicits._
    // A path 0-1-2-...-9 has diameter 9; min-label propagation moves
    // the min one hop per round, so this exercises real iteration.
    val pairs = (0L until 9L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    componentPaths.foreach { case (path, bound) =>
      val got = NearDup.componentsBounded(pairs, 20, bound)
        .orderBy("doc_id").as[(Long, Long)].collect().toSeq
      assert(got === (0L to 9L).map(_ -> 0L), s"$path path")
    }
  }

  test("components returns the same schema on both paths") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("doc_a", "doc_b")
    val empty = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    val ints = Seq((1, 2), (5, 4)).toDF("doc_a", "doc_b")
    Seq(pairs, empty, ints).foreach { in =>
      val Seq(driver, distributed) =
        componentPaths.map { case (_, bound) =>
          NearDup.componentsBounded(in, 20, bound) }
      assert(driver.schema === distributed.schema)
      assert(driver.columns.toSeq === Seq("doc_id", "comp"))
      assert(driver.collect().toSet === distributed.collect().toSet)
    }
  }

  test("components on the driver path starts no per-round jobs") {
    import spark.implicits._
    // already-materialized edge frames, so the count is components'
    // own jobs: a diameter-9 path needs more pointer-jumping rounds
    // than a single pair, which the driver path must not pay for
    val pair = Seq((1L, 2L)).toDF("doc_a", "doc_b").localCheckpoint()
    val path = (0L until 9L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
      .localCheckpoint()
    val sc = spark.sparkContext
    def jobsOf(pairs: DataFrame, bound: Int): Int = {
      val group = s"neardup-jobs-${java.util.UUID.randomUUID()}"
      val started = new java.util.concurrent.atomic.AtomicInteger
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          if (Option(e.properties).exists(
              _.getProperty("spark.jobGroup.id") == group))
            started.incrementAndGet()
      }
      sc.addSparkListener(listener)
      sc.setJobGroup(group, "components job count")
      try NearDup.componentsBounded(pairs, 20, bound)
      finally {
        sc.clearJobGroup()
        org.apache.spark.ListenerBusDrain(sc)
        sc.removeSparkListener(listener)
      }
      started.get
    }
    val driverPair = jobsOf(pair, NearDup.DriverEdges)
    val driverPath = jobsOf(path, NearDup.DriverEdges)
    assert(driverPair === driverPath,
      s"driver path: pair $driverPair jobs, 10-node path $driverPath")
    // the distributed path does pay per round, so the spec can tell
    // the two apart
    assert(jobsOf(path, -1) > driverPath)
  }

  test("greedy drop collapses an all-duplicate corpus to its lowest id") {
    val docs = corpus((0L until 200L).map(i =>
      i -> "the quick brown fox jumps over the lazy dog"))
    val kept = NearDup.dropNearDuplicates(docs, 0.9)
    // All 200 are exact duplicates; greedy keep-lowest keeps doc 0.
    assert(kept.select("doc_id").as[Long](spark.implicits.newLongEncoder)
      .collect().toSeq === Seq(0L))
  }

  test("incremental cap truncates degenerate buckets and reports it") {
    val dup = "the quick brown fox jumps over the lazy dog"
    val existing = corpus((0L until 300L).map(i => i -> dup))
    val incoming = corpus((1000L until 1100L).map(i => i -> dup))
    val cap = 32
    val (pairsDf, t) = NearDup.incrementalCandidatePairsWithTruncation(
      existing, incoming, maxBucket = cap)
    // combined bucket = 400 identical docs; only the cap's lowest ids
    // survive, all of them existing -> no incoming doc_b remains
    assert(pairsDf.collect().isEmpty)
    // ...and the truncation is REPORTED, not silent
    assert(t.exists(_.oversizedBuckets == 4L),
      s"expected 4 oversized buckets, got $t")
    assert(t.exists(_.maxBucketN == 400L),
      s"expected max bucket 400, got $t")
  }

  test("batch cap truncation is reported despite the checkpoint") {
    val dup = "the quick brown fox jumps over the lazy dog"
    val docs = corpus((0L until 300L).map(i => i -> dup))
    // verifiedPairs checkpoints candidatePairs, severing its observe
    // node from the returned frame — the report must still surface.
    val (pairs, report) =
      NearDup.verifiedPairsWithTruncation(docs, 0.9, maxBucket = 32)
    pairs.count() // consume the frame; the report is already populated
    assert(report.exists(_.oversizedBuckets == 4L),
      s"expected 4 oversized buckets, got $report")
    assert(report.exists(_.maxBucketN == 300L),
      s"expected max bucket 300, got $report")
  }

  test("concurrent dedups get uncrossed per-call truncation reports") {
    // Two dedup runs with DIFFERENT truncation profiles race in one
    // JVM: a degenerate 300-duplicate corpus (4 oversized buckets,
    // max 300) vs a 120-duplicate corpus under a higher cap (0
    // oversized). Reports are per-call return values, so each run
    // must see its own numbers — the contract a JVM-global "last
    // report" variable cannot provide.
    val dup = "the quick brown fox jumps over the lazy dog"
    val big = corpus((0L until 300L).map(i => i -> dup))
    val small = corpus((0L until 120L).map(i => i -> dup))
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val runs = (0 until 3).map { _ =>
      (Future(NearDup.verifiedPairsWithTruncation(big, 0.9,
          maxBucket = 32)._2),
        Future(NearDup.verifiedPairsWithTruncation(small, 0.9,
          maxBucket = 200)._2))
    }
    runs.foreach { case (fBig, fSmall) =>
      val tBig = Await.result(fBig, 5.minutes)
      val tSmall = Await.result(fSmall, 5.minutes)
      assert(tBig.exists(t =>
          t.oversizedBuckets == 4L && t.maxBucketN == 300L),
        s"big run's report was crossed or lost: $tBig")
      assert(tSmall.exists(t =>
          t.oversizedBuckets == 0L && t.maxBucketN == 120L),
        s"small run's report was crossed or lost: $tSmall")
    }
  }

  test("components of an empty pair set returns empty labels") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    componentPaths.foreach { case (path, bound) =>
      assert(NearDup.componentsBounded(empty, 20, bound).count() === 0L,
        s"$path path")
    }
  }

  test("components rejects maxIter < 1 instead of returning self-labels") {
    import spark.implicits._
    val pairs = Seq((1L, 2L)).toDF("doc_a", "doc_b")
    componentPaths.foreach { case (_, bound) =>
      intercept[IllegalArgumentException] {
        NearDup.componentsBounded(pairs, 0, bound)
      }
    }
  }

  test("incremental dedup pairs incoming against corpus, never corpus x corpus") {
    import spark.implicits._
    val dupText = "the quick brown fox jumps over the lazy dog again today"
    // existing 1 and 2 are THEMSELVES duplicates — an incremental run
    // must not re-litigate them; 3 is unrelated existing content.
    val existing = corpus(Seq(
      1L -> dupText, 2L -> dupText,
      3L -> "completely different existing material with many words here"))
    // 10 duplicates the corpus, 11 duplicates 10 (intra-batch), 12 is new.
    val incoming = corpus(Seq(
      10L -> dupText, 11L -> dupText,
      12L -> "fresh unique incoming content nothing like the others at all"))
    val got = NearDup.incrementalVerified(existing, incoming, 0.9)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    // doc_b is always incoming; (1,2) never appears.
    assert(got.forall { case (_, b) => Set(10L, 11L, 12L).contains(b) })
    assert(got.contains(1L -> 10L) && got.contains(2L -> 10L))
    assert(got.contains(10L -> 11L))
    assert(!got.exists { case (a, b) => a >= b })
    assert(!got.exists { case (_, b) => b == 12L })
  }

  test("band-table incremental path equals the re-tokenizing path") {
    import spark.implicits._
    val dupText = "the quick brown fox jumps over the lazy dog again today"
    val existing = corpus(Seq(
      1L -> dupText,
      3L -> "completely different existing material with many words here"))
    val incoming = corpus(Seq(
      10L -> dupText, 11L -> dupText,
      12L -> "fresh unique incoming content nothing like the others at all"))
    val viaText = NearDup.incrementalVerified(existing, incoming, 0.9)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    // steady-state shape: the existing side contributes its persisted
    // band table; results must be identical
    val bandTable = NearDup.bands(existing)
    val viaBands = NearDup
      .incrementalVerifiedWithBands(existing, bandTable, incoming, 0.9)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(viaBands === viaText)
    assert(viaBands.contains(1L -> 10L) && viaBands.contains(10L -> 11L))
  }

  test("q116 semantic dedup: survivors are pairwise dissimilar, drops witnessed") {
    val d = "/root/testdata/sf0.01"
    val out = SparkEntry.queries("q116_semdedup_buckets")(spark, d)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getBoolean(2)))
    assert(out.length == 500)
    val dropped = out.count(!_._3)
    assert(dropped > 0, "threshold should dominate at least one doc")
    // idempotence: rerunning the rule over survivors alone removes
    // nothing, because any within-bucket similar pair (a < b) already
    // dominated b — i.e. survivors are pairwise < theta per bucket.
    // Verify directly on the similarity join.
    import graft.functions.VectorFunctions.{dotProduct, l2Norm}
    val ids = out.filter(_._3).map(_._1).toSet
    val emb = Tables.embeddings(spark, d)
      .select(col("vec_id"), col("embedding"),
        l2Norm(col("embedding")).as("nrm"))
      .filter(col("vec_id").isin(ids.toSeq: _*))
    val bucketOf = out.map(r => r._1 -> r._2).toMap
    val simPairs = emb.as("a").join(emb.as("b"),
        col("a.vec_id") < col("b.vec_id"))
      .filter(dotProduct(col("a.embedding"), col("b.embedding"))
        / (col("a.nrm") * col("b.nrm")) >= 0.3)
      .select(col("a.vec_id"), col("b.vec_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // any surviving similar pair must straddle buckets (the documented
    // blocking approximation) — never share one
    simPairs.foreach { case (a, b) =>
      assert(bucketOf(a) != bucketOf(b),
        s"same-bucket similar pair ($a, $b) survived")
    }
  }

  test("semantic dedup: degenerate identical corpus is fenced by the anchor cap") {
    import spark.implicits._
    // 1000 identical embeddings -> ONE bucket; the anchor cap bounds
    // pairwise work to cap * |bucket| instead of |bucket|^2, and the
    // first row still dominates every other (cosine 1.0 to anchor 1)
    val v = Seq.fill(8)(1.0f)
    val embs = (1L to 1000L).map(i => (i, v)).toDF("vec_id", "embedding")
    val f = graft.dedup.SemanticDedup.flagged(
      embs, "vec_id", "embedding", dim = 8, nPlanes = 4, theta = 0.9,
      anchorCap = 8)
    val kept = f.filter(col("survivor")).as[(Long, Int, Boolean)].collect()
    assert(kept.map(_._1).toSeq == Seq(1L))
    assert(f.count() == 1000)
  }

  test("semantic dedup hyperplanes are deterministic and bounded") {
    val a = graft.dedup.SemanticDedup.hyperplanes(6, 64)
    val b = graft.dedup.SemanticDedup.hyperplanes(6, 64)
    assert(a == b)
    assert(a.flatten.forall(x => x >= -8.0 && x <= 7.0))
    // different seeds genuinely move the planes
    assert(a != graft.dedup.SemanticDedup.hyperplanes(6, 64, seed = 7L))
  }
}
