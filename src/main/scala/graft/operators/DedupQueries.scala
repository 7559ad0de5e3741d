package graft.operators

import graft.{GraftQuery, Tables}
import graft.functions.TextFunctions._
import graft.functions.VectorFunctions._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators over `documents` / `embeddings` — the
  * training-data-pipeline capabilities layered on the reference's
  * record-identity semantics (its only dedup is `list(set(...))` on CVE
  * ids, `llama-chatbot/main.py:290-294`).
  *
  * Scale notes (100 TB):
  *  - exact dedup is a hash-aggregate on a 32-byte fingerprint — one
  *    shuffle of (fp, doc_id), map-side partial aggregation, no skew
  *    (md5 is uniform);
  *  - MinHash/LSH near-dup never materializes the O(n²) pair space: docs
  *    are exploded to (band_id, band_key) and self-joined on the band
  *    key, so candidate generation is an equi shuffle join whose output
  *    is only the colliding pairs;
  *  - SimHash pairs and n-gram Jaccard are demonstrated on a bounded
  *    doc_id prefix (the un-blocked O(n²) form is the correctness
  *    baseline; the LSH form is the scale path);
  *  - embedding near-dup blocks on `label` (a coarse cluster/partition
  *    id): within-block pairs only — the equi-join pattern that replaces
  *    the full cross product at scale.
  */
object DedupQueries {

  private val toksSql =
    """list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')"""

  /** DuckDB mirror of shingles(text, n) given a toks expression. */
  private def shinglesSql(toks: String, n: Int): String =
    s"""CASE WHEN len($toks) < $n THEN []::VARCHAR[]
       |  ELSE list_transform(range(1, len($toks) - ${n - 2}),
       |    i -> array_to_string(($toks)[i:i+${n - 1}], ' ')) END""".stripMargin

  private val K_MINHASH = graft.dedup.NearDup.Components
  private val ROWS_PER_BAND = graft.dedup.NearDup.RowsPerBand
  private val N_BANDS = graft.dedup.NearDup.Bands
  // 60-bit fingerprints with Hamming <= 3 over 4 x 15-bit bands — the
  // signed-64-safe variant of the standard simhash near-dup
  // configuration (64-bit fingerprint, k=3, 4 bands). Width history:
  // at 16 bits the 2^4 band space collided ~14M of the 12.5M possible
  // pairs at sf0.1 (banding degenerated); at 32 bits the 2^8 band
  // space held at sf0.1 but clustered on shared vocabulary at the
  // 100x probe (22.7M candidate pairs). 2^15 band values spread
  // vocabulary-similar-but-distinct docs apart, and 3/60 differing
  // bits is a proportionally tighter (more precise) near-dup bar.
  private val SIMHASH_BITS = 60
  private val SIMHASH_BANDS = 4
  private val HAMMING_MAX = 3

  private val P = graft.functions.TextFunctions.MinhashP

  /** DuckDB mirror of tokenHashes: one md5 per token -> 32-bit int. */
  private[operators] val thSql =
    "list_transform(toks, t -> CAST(('0x' || substr(md5(t), 1, 8)) AS BIGINT))"

  /** DuckDB mirror of shingleHashesOf(th, 3): position-weighted window
    * sums over the token hashes, identical literals both engines. */
  private[operators] def hsSql: String = {
    val w = (0 until 3).map(graft.functions.TextFunctions.shingleWeight)
    s"""CASE WHEN len(th) < 3 THEN []::BIGINT[]
       |  ELSE list_transform(range(1, len(th) - 1),
       |    i -> (((th[i] * ${w(0)}) % $P) + ((th[i + 1] * ${w(1)}) % $P)
       |          + ((th[i + 2] * ${w(2)}) % $P)) % $P) END""".stripMargin
  }

  /** DuckDB mirror of minhashSignature(hs, K): same (a,b,p) literals. */
  private def sigSql: String =
    (0 until K_MINHASH).map { i =>
      val (a, b) = graft.functions.TextFunctions.minhashParams(i)
      s"list_min(list_transform(hs, h -> (h * $a + $b) % $P))"
    }.mkString("[", ", ", "]")

  /** Shared CTE prefix: toks -> th -> hs -> sig -> exploded bands.
    * `rel` is the source relation (any CTE with doc_id + text). */
  private[operators] def bandsCteSql(rel: String = "documents"): String =
    s"""t AS (SELECT doc_id, $toksSql AS toks FROM $rel),
       |h AS (SELECT doc_id, $thSql AS th FROM t WHERE len(toks) >= 3),
       |s AS (SELECT doc_id, $hsSql AS hs FROM h),
       |sig AS (SELECT doc_id, $sigSql AS sig FROM s),
       |b AS (SELECT doc_id, g.band,
       |        md5(array_to_string(list_transform(
       |          sig[g.band * $ROWS_PER_BAND + 1 : (g.band + 1) * $ROWS_PER_BAND],
       |          x -> CAST(x AS VARCHAR)), '|')) AS band_key
       |      FROM sig CROSS JOIN
       |        (SELECT unnest(generate_series(0, ${N_BANDS - 1})) AS band) g)""".stripMargin

  /** Shared CTE chain for connected components over verified near-dup
    * pairs at threshold `theta` over relation `rel`: bands ->
    * candidates -> exact-Jaccard verify -> symmetric edges ->
    * recursive transitive closure -> per-node min label in
    * `comp(doc_id, comp)`. Callers prepend WITH RECURSIVE. */
  private[operators] def componentsCteSql(rel: String = "documents",
      theta: String = "0.5"): String =
    s"""${bandsCteSql(rel)},
       |cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |         FROM b x JOIN b y
       |           ON x.band = y.band AND x.band_key = y.band_key
       |           AND x.doc_id < y.doc_id),
       |sh AS (SELECT doc_id,
       |         list_distinct(${shinglesSql(s"($toksSql)", 3)}) AS sset
       |       FROM $rel),
       |v AS (SELECT c.doc_a, c.doc_b
       |      FROM cand c
       |      JOIN sh a ON c.doc_a = a.doc_id
       |      JOIN sh b ON c.doc_b = b.doc_id
       |      WHERE CAST(len(list_filter(a.sset,
       |          x -> list_contains(b.sset, x))) AS DOUBLE)
       |        / len(list_distinct(list_concat(a.sset, b.sset))) >= $theta),
       |e AS (SELECT doc_a AS src, doc_b AS dst FROM v
       |      UNION SELECT doc_b, doc_a FROM v),
       |reach(a, b) AS (
       |  SELECT src, dst FROM e
       |  UNION
       |  SELECT r.a, e2.dst FROM reach r JOIN e e2 ON r.b = e2.src),
       |comp AS (SELECT doc_id, CAST(MIN(comp) AS BIGINT) AS comp FROM (
       |    SELECT a AS doc_id, b AS comp FROM reach
       |    UNION ALL
       |    SELECT DISTINCT src AS doc_id, src AS comp FROM e)
       |  GROUP BY doc_id)""".stripMargin

  val all: Seq[GraftQuery] = Seq(

    // ---- exact dedup: fingerprint hash-agg, keep-first representative ----
    GraftQuery("q40_exact_dedup",
      """SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
        |  CAST(COUNT(*) AS BIGINT) AS n_copies,
        |  CAST(MIN(doc_id) AS BIGINT) AS keep_doc_id
        |FROM documents
        |GROUP BY fp
        |ORDER BY fp""".stripMargin) { (s, d) =>
      Tables.spread(Tables.documents(s, d))
        .groupBy(fingerprint(col("text")).as("fp"))
        .agg(count(lit(1)).as("n_copies"),
          min(col("doc_id")).as("keep_doc_id"))
        .orderBy("fp")
    },

    // ---- incremental EXACT dedup (q89's cheap sibling): incoming docs
    //      whose normalized fingerprint already exists in the corpus or
    //      in an earlier incoming doc. At scale the corpus side is a
    //      persisted (fp -> keep_doc_id) table maintained across runs —
    //      one uniform-key shuffle join against the small batch, no
    //      text re-read of the corpus. ----
    GraftQuery("q92_incremental_exact_dedup",
      """WITH inc AS (SELECT doc_id + 1099511627776 AS doc_id, text
        |             FROM documents WHERE doc_id % 7 = 3),
        |corpus AS (SELECT doc_id,
        |    md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
        |  FROM documents),
        |batch AS (SELECT doc_id,
        |    md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
        |  FROM inc)
        |SELECT b.doc_id, CAST(MIN(a.doc_id) AS BIGINT) AS dup_of
        |FROM batch b JOIN corpus a ON a.fp = b.fp
        |GROUP BY b.doc_id
        |ORDER BY b.doc_id""".stripMargin) { (s, d) =>
      // the incoming batch re-keys a slice of the corpus (every batch
      // doc therefore HAS a duplicate — the re-ingest shape); only
      // fingerprints join, the corpus text is read once. The re-key
      // offset is a distinct high bit (1<<40), not an additive stride:
      // the scale-probe replicas stride doc_id by 1,000,000 per copy,
      // so a small offset would collide synthetic batch ids with real
      // corpus ids at 10x/100x and merge dup_of groups incorrectly.
      val docs = Tables.spread(Tables.documents(s, d))
      val corpusFp = docs
        .select(col("doc_id"), fingerprint(col("text")).as("fp"))
      val batchFp = docs.filter(pmod(col("doc_id"), lit(7)) === 3)
        .select((col("doc_id") + (1L << 40)).as("doc_id"),
          fingerprint(col("text")).as("fp"))
      batchFp.as("b")
        .join(corpusFp.as("a"), col("a.fp") === col("b.fp"))
        .groupBy(col("b.doc_id").as("doc_id"))
        .agg(min(col("a.doc_id")).as("dup_of"))
        .orderBy("doc_id")
    },

    // ---- bloom-routed incremental dedup: q92's anti-join shape with
    //      the SURVIVORS as output, routed through a corpus-key Bloom
    //      filter (Joins.bloomRoutedAntiJoin) so probe-negative rows —
    //      most of a steady-state batch — never shuffle at all and the
    //      corpus never shuffles (broadcast-semi double inversion).
    //      Routing must never change the answer: the oracle is the
    //      plain NOT EXISTS. Half the batch is re-ingested verbatim
    //      (dups, must die in the exact path), half carries a unique
    //      suffix (fresh, must survive — mostly via the fast path). ----
    GraftQuery("q120_bloom_routed_dedup",
      """WITH inc AS (SELECT doc_id AS orig_id,
        |    CASE WHEN doc_id % 14 = 3
        |         THEN text || ' fresh' || CAST(doc_id AS VARCHAR)
        |         ELSE text END AS text
        |  FROM documents WHERE doc_id % 7 = 3),
        |corpus AS (SELECT
        |    md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
        |  FROM documents),
        |batch AS (SELECT orig_id + 1099511627776 AS doc_id,
        |    md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
        |  FROM inc)
        |SELECT b.doc_id, b.fp FROM batch b
        |WHERE NOT EXISTS (SELECT 1 FROM corpus a WHERE a.fp = b.fp)
        |ORDER BY b.doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.spread(Tables.documents(s, d))
      val corpusFp = docs.select(fingerprint(col("text")).as("fp"))
      val batchFp = docs.filter(pmod(col("doc_id"), lit(7)) === 3)
        .select((col("doc_id") + (1L << 40)).as("doc_id"),
          fingerprint(when(pmod(col("doc_id"), lit(14)) === 3,
            concat(col("text"), lit(" fresh"), col("doc_id")))
            .otherwise(col("text"))).as("fp"))
      // size the filter from the corpus row count (parquet-footer
      // cheap); in the streaming sinks this filter is the maintained
      // artifact, not rebuilt per batch
      val bloom = graft.layout.RuntimeFilters.bloomBytes(
        corpusFp, "fp", math.max(docs.count(), 1L), 0.01)
      Joins.bloomRoutedAntiJoin(batchFp, corpusFp, "fp", bloom)
        .orderBy("doc_id")
    },

    // ---- MinHash signatures + LSH band keys (per-doc, oracle-strong) ----
    GraftQuery("q41_minhash_bands",
      s"""WITH ${bandsCteSql()}
         |SELECT doc_id, CAST(band AS INTEGER) AS band, band_key FROM b
         |ORDER BY doc_id, band""".stripMargin) { (s, d) =>
      graft.dedup.NearDup.bands(Tables.documents(s, d))
        .orderBy("doc_id", "band")
    },

    // ---- MinHash/LSH candidate pairs: bucket groupBy, not self-join ----
    // Signatures are computed ONCE; docs sharing a band key land in one
    // hash-agg bucket, and pairs are enumerated inside each (small)
    // bucket — the one shuffle moves (band_key, doc_id) only. The oracle
    // keeps the plain self-join formulation: same result set. (The Spark
    // side caps bucket membership at NearDup.MaxBucket=1000 — far above
    // any organic bucket here; the uncapped oracle diverges only on a
    // degenerate corpus, where the cap is the intended OOM guard and the
    // observe metric reports the truncation.)
    GraftQuery("q42_lsh_candidate_pairs",
      s"""WITH ${bandsCteSql()}
         |SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
         |FROM b x JOIN b y
         |  ON x.band = y.band AND x.band_key = y.band_key
         |  AND x.doc_id < y.doc_id
         |ORDER BY doc_a, doc_b""".stripMargin) { (s, d) =>
      graft.dedup.NearDup.candidatePairs(Tables.documents(s, d))
        .orderBy("doc_a", "doc_b")
    },

    // ---- the COMPLETE near-dup flow: LSH candidates -> true-Jaccard
    //      verification -> dedup decision (drop the higher doc_id of
    //      each confirmed pair). Candidates come from the band-bucket
    //      groupBy (never the O(n²) pair space); only the few candidate
    //      pairs pay the exact-Jaccard join back to shingles. ----
    GraftQuery("q46_lsh_verified_dedup",
      s"""WITH ${bandsCteSql()},
         |cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
         |         FROM b x JOIN b y
         |           ON x.band = y.band AND x.band_key = y.band_key
         |           AND x.doc_id < y.doc_id),
         |sh AS (SELECT doc_id,
         |         list_distinct(${shinglesSql(s"($toksSql)", 3)}) AS sset
         |       FROM documents),
         |v AS (SELECT c.doc_a, c.doc_b,
         |        CAST(len(list_filter(a.sset, x -> list_contains(b.sset, x)))
         |          AS DOUBLE)
         |        / len(list_distinct(list_concat(a.sset, b.sset))) AS jac
         |      FROM cand c
         |      JOIN sh a ON c.doc_a = a.doc_id
         |      JOIN sh b ON c.doc_b = b.doc_id)
         |SELECT doc_a, doc_b, round(jac, 6) AS jaccard
         |FROM v WHERE jac >= 0.5
         |ORDER BY doc_a, doc_b""".stripMargin) { (s, d) =>
      val (pairs, truncation) = graft.dedup.NearDup
        .verifiedPairsWithTruncation(Tables.documents(s, d), 0.5)
      graft.dedup.NearDup.warnIfTruncated("q46_lsh_verified_dedup",
        truncation)
      pairs
        .select(col("doc_a"), col("doc_b"),
          round(col("jaccard"), 6).as("jaccard"))
        .orderBy("doc_a", "doc_b")
    },

    // ---- n-gram Jaccard similarity over a bounded prefix ----
    GraftQuery("q43_ngram_jaccard",
      s"""WITH t AS (SELECT doc_id, ${shinglesSql(s"($toksSql)", 3)} AS sh
         |           FROM documents WHERE doc_id < 60),
         |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |        CAST(len(list_filter(list_distinct(a.sh),
         |          x -> list_contains(b.sh, x))) AS DOUBLE)
         |        / len(list_distinct(list_concat(a.sh, b.sh))) AS jaccard
         |      FROM t a JOIN t b ON a.doc_id < b.doc_id
         |      WHERE len(a.sh) > 0 AND len(b.sh) > 0)
         |SELECT doc_a, doc_b, round(jaccard, 6) AS jaccard
         |FROM p WHERE jaccard >= 0.02
         |ORDER BY doc_a, doc_b""".stripMargin) { (s, d) =>
      val t = Tables.spread(Tables.documents(s, d)
        .filter(col("doc_id") < 60))
        .select(col("doc_id"), tokens(col("text")).as("toks"))
        .select(col("doc_id"), shinglesOf(col("toks"), 3).as("sh"))
        .filter(size(col("sh")) > 0)
      t.as("a").join(t.as("b"), col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          (size(filter(array_distinct(col("a.sh")),
            x => array_contains(col("b.sh"), x))).cast("double") /
            size(array_distinct(concat(col("a.sh"), col("b.sh")))))
            .as("jaccard"))
        .filter(col("jaccard") >= 0.02)
        .select(col("doc_a"), col("doc_b"),
          round(col("jaccard"), 6).as("jaccard"))
        .orderBy("doc_a", "doc_b")
    },

    // ---- SimHash fingerprints + near-dup hamming pairs ----
    // Prefix bound 400: wide enough that the 60-bit Hamming<=3 bar
    // still admits pairs at sf0.01 AND sf0.1 (the first qualifying
    // pair sits at max doc_id 178 / 22 respectively); the O(n²) form
    // stays a constant 80k pairs at any SF.
    GraftQuery("q44_simhash_pairs",
      simhashPairsSql("WHERE doc_id < 400")) { (s, d) =>
      val t = Tables.spread(Tables.documents(s, d)
        .filter(col("doc_id") < 400))
        .select(col("doc_id"), tokenHashesWideOfText(col("text")).as("th"))
        .select(col("doc_id"), simhashOf(col("th"), SIMHASH_BITS).as("sh"))
      t.as("a").join(t.as("b"), col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          hammingDistance(col("a.sh"), col("b.sh"), SIMHASH_BITS)
            .as("hamming"))
        .filter(col("hamming") <= HAMMING_MAX)
        .orderBy("doc_a", "doc_b")
    },

    // ---- SimHash near-dup, BANDED (the scale path for q44): the
    //      60-bit fingerprint splits into 4 contiguous 15-bit bands;
    //      Hamming <= 3 differing bits cannot touch all 4 bands, so any
    //      qualifying pair shares at least one full band (pigeonhole) —
    //      banding is LOSSLESS at this threshold. Candidates come from
    //      an equi self-join on (band, band_value) — one shuffle, no
    //      all-pairs — then only candidates pay the popcount verify.
    //      The oracle is the brute-force all-pairs form over the SAME
    //      unbounded corpus: result sets must be identical. ----
    GraftQuery("q47_simhash_banded", simhashPairsSql("")) { (s, d) =>
      val nBands = SIMHASH_BANDS
      val bandBits = SIMHASH_BITS / nBands
      val mask = (1L << bandBits) - 1
      // Salt factor: real corpora skew band values (shared vocabulary
      // pulls fingerprints together — even at 2^15 band values a hot
      // bucket can dominate) — join-AMPLIFICATION skew that AQE cannot
      // see (it sizes shuffle input, and the input is tiny).
      // Salting splits each bucket's pair generation across `salts`
      // tasks: the kept side carries doc_id%salts, the probe side is
      // replicated to every salt, so each pair is produced exactly once.
      val salts = 16
      // localCheckpoint: fingerprints are (doc_id, long) — tiny — and
      // BOTH self-join sides read them; without it each side re-runs
      // the tokenize + md5 + simhash scan (the query's dominant cost).
      val t = Tables.spread(Tables.documents(s, d))
        .select(col("doc_id"), tokenHashesWideOfText(col("text")).as("th"))
        .select(col("doc_id"), simhashOf(col("th"), SIMHASH_BITS).as("sh"))
        .localCheckpoint()
      val banded = t.select(col("doc_id"), col("sh"),
        explode(array((0 until nBands).map(b =>
          struct(lit(b).as("band"),
            shiftright(col("sh"), b * bandBits).bitwiseAND(lit(mask))
              .as("bv"))): _*)).as("bb"))
        .select(col("doc_id"), col("sh"),
          col("bb.band").as("band"), col("bb.bv").as("bv"))
      val aSide = banded
        .withColumn("salt", pmod(col("doc_id"), lit(salts)).cast("int"))
      val bSide = banded
        .withColumn("salt", explode(array((0 until salts).map(lit): _*)))
      // Canonical-band emission replaces a 10M-row distinct: a pair
      // colliding in several bands is emitted ONLY from the first
      // matching band — decided per joined row from the two
      // fingerprints (pure integer ops), so pair dedup costs no
      // shuffle/aggregation at all.
      def bandOf(c: Column, j: Int): Column =
        shiftright(c, j * bandBits).bitwiseAND(lit(mask))
      val firstMatch = (0 until nBands).foldRight(lit(nBands): Column) {
        (j, rest) =>
          when(bandOf(col("a.sh"), j) === bandOf(col("b.sh"), j), lit(j))
            .otherwise(rest)
      }
      aSide.as("a")
        .join(bSide.as("b"),
          col("a.band") === col("b.band") && col("a.bv") === col("b.bv") &&
            col("a.salt") === col("b.salt") &&
            col("a.doc_id") < col("b.doc_id"))
        .filter(col("a.band") === firstMatch)
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          hammingDistance(col("a.sh"), col("b.sh"), SIMHASH_BITS)
            .as("hamming"))
        .filter(col("hamming") <= HAMMING_MAX)
        .orderBy("doc_a", "doc_b")
    },

    // ---- connected components over verified near-dup pairs: the
    //      EXACT grouping alternative to the greedy drop (a chain a-b-c
    //      becomes one component even though (a,c) was never a
    //      candidate). Spark side is [[graft.dedup.NearDup.components]]
    //      (driver union-find, or pointer jumping past its bound); the
    //      oracle computes the same fixpoint as a recursive
    //      transitive-closure CTE. ----
    GraftQuery("q48_near_dup_components",
      s"""WITH RECURSIVE ${componentsCteSql()}
         |SELECT doc_id, comp FROM comp
         |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val (pairs, truncation) = graft.dedup.NearDup
        .verifiedPairsWithTruncation(Tables.documents(s, d), 0.5)
      graft.dedup.NearDup.warnIfTruncated("q48_near_dup_components",
        truncation)
      graft.dedup.NearDup.components(pairs)
        .select(col("doc_id"), col("comp").cast("bigint").as("comp"))
        .orderBy("doc_id")
    },

    // ---- canonical-survivor selection: within each near-dup component
    //      keep the HIGHEST-QUALITY member (tie -> lowest doc_id), not
    //      the lowest id — the real pipeline drop decision ("keep the
    //      best copy"). Quality is the q31 weighted-clamp score rounded
    //      to 6dp BEFORE ranking, so the cross-engine ordering compares
    //      identical values. Components are small by construction, so
    //      the per-component window is cheap; everything upstream is
    //      the q48 plan. ----
    GraftQuery("q84_cluster_survivor",
      s"""WITH RECURSIVE ${componentsCteSql()},
         |qt AS (SELECT doc_id, $toksSql AS toks, text FROM documents),
         |qual AS (SELECT doc_id,
         |  round(${TextQueries.qualitySql("toks", "text")}, 6) AS q
         |  FROM qt),
         |j AS (SELECT c.comp, c.doc_id, q.q,
         |        ROW_NUMBER() OVER (PARTITION BY c.comp
         |          ORDER BY q.q DESC, c.doc_id) AS rn,
         |        COUNT(*) OVER (PARTITION BY c.comp) AS n_members
         |      FROM comp c JOIN qual q ON c.doc_id = q.doc_id)
         |SELECT comp, doc_id AS keep_doc_id,
         |  CAST(n_members AS BIGINT) AS n_members, q AS keep_quality
         |FROM j WHERE rn = 1
         |ORDER BY comp""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, d)
      val (pairs, truncation) = graft.dedup.NearDup
        .verifiedPairsWithTruncation(docs, 0.5)
      graft.dedup.NearDup.warnIfTruncated("q84_cluster_survivor",
        truncation)
      val comps = graft.dedup.NearDup.components(pairs)
      // components are a tiny fraction of the corpus: broadcast them
      // and compute quality AFTER the join, so only member docs pay the
      // tokenize + score — not the whole corpus
      val wComp = Window.partitionBy(col("comp"))
      docs.join(broadcast(comps), "doc_id")
        .select(col("doc_id"), col("comp"),
          round(graft.functions.TextFunctions.qualityScoreOf(col("text"),
            tokens(col("text"))), 6).as("q"))
        .withColumn("rn", row_number().over(
          wComp.orderBy(col("q").desc, col("doc_id"))))
        .withColumn("n_members", count(lit(1)).over(wComp))
        .filter(col("rn") === 1)
        .select(col("comp").cast("bigint").as("comp"),
          col("doc_id").as("keep_doc_id"),
          col("n_members").cast("bigint").as("n_members"),
          col("q").as("keep_quality"))
        .orderBy("comp")
    },

    // ---- benchmark-contamination detection: flag corpus docs whose
    //      3-token shingles overlap an evaluation set (here: the docs
    //      with doc_id % 41 = 7 stand in for the benchmark). The
    //      benchmark's distinct shingle set is BROADCAST — eval sets
    //      are small by nature — so the corpus side streams once with
    //      no pair join; the only shuffle is the per-doc hit count.
    //      The standard decontamination pass before training. ----
    GraftQuery("q82_contamination",
      s"""WITH sh AS (SELECT doc_id,
         |    list_distinct(${shinglesSql(s"($toksSql)", 3)}) AS sset
         |  FROM documents),
         |bench AS (SELECT DISTINCT unnest(sset) AS g FROM sh
         |          WHERE doc_id % 41 = 7 AND doc_id < 100000),
         |corpus AS (SELECT doc_id, unnest(sset) AS g FROM sh
         |           WHERE doc_id % 41 <> 7)
         |SELECT c.doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits
         |FROM corpus c JOIN bench b ON c.g = b.g
         |GROUP BY c.doc_id
         |HAVING COUNT(*) >= 2
         |ORDER BY doc_id""".stripMargin) { (s, d) =>
      // Each branch scans for itself — NO shared materialization: the
      // benchmark is a FIXED eval slice (doc_id < 100000 bounds it to
      // the base corpus), so re-tokenizing it costs a fraction of a
      // percent of the corpus pass, while a shared localCheckpoint
      // would write every corpus doc's shingle set to disk just to
      // avoid it.
      //
      // explode_OUTER, deliberately: a plain explode makes
      // InferFiltersFromGenerate add `size(sset)>0 AND isnotnull
      // (sset)` below the Generate, and predicate pushdown substitutes
      // the FULL tokenize+shingle expression into that filter — the
      // generator child is then evaluated three times per row (size,
      // null check, projection), which tripled the 500k-doc probe
      // (86 s corpus pass vs 29 s evaluated once). The rule skips
      // outer generates; empty/null shingle sets contribute one
      // null-g row that the explicit isNotNull drops — identical
      // result, one evaluation. Measured at 500k docs: 32.6 s, level
      // with the checkpoint variant's 33.9 s wall-clock but without
      // materializing 25M shingle arrays — the checkpoint's
      // corpus-sized disk write is the part that could not ship at
      // 100 TB.
      def shingleSets(df: org.apache.spark.sql.DataFrame) =
        Tables.spread(df).select(col("doc_id"),
          array_distinct(shinglesOf(tokens(col("text")), 3)).as("sset"))
      val docs = Tables.documents(s, d)
      val bench = shingleSets(
        docs.filter(pmod(col("doc_id"), lit(41)) === 7 &&
          col("doc_id") < 100000))
        .select(explode_outer(col("sset")).as("g"))
        .filter(col("g").isNotNull).distinct()
      val corpus = shingleSets(
        docs.filter(pmod(col("doc_id"), lit(41)) =!= 7))
        .select(col("doc_id"), explode_outer(col("sset")).as("g"))
        .filter(col("g").isNotNull)
      corpus.join(broadcast(bench), "g")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_hits"))
        .filter(col("n_hits") >= 2)
        .orderBy("doc_id")
    },

    // ---- incremental near-dup: an incoming batch (doc_id % 7 = 3
    //      stands in for today's delta) verified against the existing
    //      corpus AND earlier incoming docs. existing×existing pairs
    //      are never generated — the corpus contributes band keys only
    //      (persistable between runs), which is what makes continuous
    //      ingest dedup affordable at 100 TB. doc_b is always the
    //      incoming (droppable) side. ----
    GraftQuery("q89_incremental_dedup",
      s"""WITH ${bandsCteSql()},
         |cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
         |         FROM b x JOIN b y
         |           ON x.band = y.band AND x.band_key = y.band_key
         |          AND y.doc_id % 7 = 3
         |          AND (CASE WHEN x.doc_id % 7 = 3
         |               THEN x.doc_id < y.doc_id
         |               ELSE x.doc_id <> y.doc_id END)),
         |sh AS (SELECT doc_id,
         |         list_distinct(${shinglesSql(s"($toksSql)", 3)}) AS sset
         |       FROM documents),
         |v AS (SELECT c.doc_a, c.doc_b,
         |        CAST(len(list_filter(a.sset, x -> list_contains(b.sset, x)))
         |          AS DOUBLE)
         |        / len(list_distinct(list_concat(a.sset, b.sset))) AS jac
         |      FROM cand c
         |      JOIN sh a ON c.doc_a = a.doc_id
         |      JOIN sh b ON c.doc_b = b.doc_id)
         |SELECT doc_a, doc_b, round(jac, 6) AS jaccard
         |FROM v WHERE jac >= 0.5
         |ORDER BY doc_a, doc_b""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val incoming = docs.filter(pmod(col("doc_id"), lit(7)) === 3)
      val existing = docs.filter(pmod(col("doc_id"), lit(7)) =!= 3)
      graft.dedup.NearDup.incrementalVerified(existing, incoming, 0.5)
        .select(col("doc_a"), col("doc_b"),
          round(col("jaccard"), 6).as("jaccard"))
        .orderBy("doc_a", "doc_b")
    },

    // ---- embedding-cosine near-dup, blocked on label ----
    GraftQuery("q45_embedding_near_dup",
      """WITH e AS (SELECT vec_id, label, embedding FROM embeddings),
        |p AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        |  list_inner_product(CAST(a.embedding AS DOUBLE[]),
        |                     CAST(b.embedding AS DOUBLE[]))
        |  / (sqrt(list_inner_product(CAST(a.embedding AS DOUBLE[]),
        |                             CAST(a.embedding AS DOUBLE[])))
        |   * sqrt(list_inner_product(CAST(b.embedding AS DOUBLE[]),
        |                             CAST(b.embedding AS DOUBLE[])))) AS sim
        |  FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id)
        |SELECT vec_a, vec_b, round(sim, 6) AS sim
        |FROM p WHERE sim >= 0.3
        |ORDER BY vec_a, vec_b""".stripMargin) { (s, d) =>
      // Norms staged per ROW before the pair join: the within-block join
      // then does one dot product per pair instead of dot + two norms —
      // same IEEE-754 values (norms are identical subexpressions, just
      // evaluated once), 3x less per-pair arithmetic.
      val e = Tables.spread(Tables.embeddings(s, d))
        .withColumn("nrm", l2Norm(col("embedding")))
      e.as("a")
        .join(e.as("b"),
          col("a.label") === col("b.label") &&
            col("a.vec_id") < col("b.vec_id"))
        .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
          when(col("a.nrm") === 0.0 || col("b.nrm") === 0.0,
            lit(null).cast("double"))
            .otherwise(dotProduct(col("a.embedding"), col("b.embedding"))
              / (col("a.nrm") * col("b.nrm"))).as("sim"))
        .filter(col("sim") >= 0.3)
        .select(col("vec_a"), col("vec_b"), round(col("sim"), 6).as("sim"))
        .orderBy("vec_a", "vec_b")
    },

    // ---- corpus-level boilerplate removal: the "line-level dedup" of
    //      C4/RefinedWeb-style pipelines (drop lines repeated across
    //      many documents — headers, footers, nav text), re-expressed
    //      over non-overlapping token chunks because the synthetic
    //      corpus has no newlines; at a real corpus the splitter is
    //      split(text, '\n') and everything downstream is identical.
    //      Shape: chunk -> fingerprint -> count DISTINCT docs per fp
    //      (one uniform md5-keyed shuffle, partial agg) -> the top-K
    //      most document-frequent fps form the hot set (K rows by
    //      construction — trivially broadcastable; tie-break on chunk
    //      text keeps the ranking deterministic) -> per-doc reassembly
    //      of surviving chunks in position order (one doc_id shuffle).
    //      Real pipelines threshold on document frequency instead;
    //      top-K exercises the identical plan while staying
    //      non-degenerate on a homogeneous synthetic corpus (where
    //      every 2-gram converges to the same ~3% doc frequency and
    //      any fixed threshold drops everything or nothing). ----
    GraftQuery("q96_boilerplate_chunks",
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |c AS (SELECT doc_id, unnest(range(0, len(toks), 2)) AS start,
         |        toks FROM t WHERE len(toks) > 0),
         |f AS (SELECT doc_id, CAST(start // 2 AS INTEGER) AS chunk_id,
         |        array_to_string(toks[start + 1 : start + 2], ' ') AS chunk,
         |        md5(array_to_string(toks[start + 1 : start + 2], ' ')) AS fp
         |      FROM c),
         |hot AS (SELECT fp FROM (
         |    SELECT fp, row_number() OVER
         |      (ORDER BY COUNT(DISTINCT doc_id) DESC, min(chunk)) AS rk
         |    FROM f GROUP BY fp)
         |  WHERE rk <= 20)
         |SELECT f.doc_id,
         |  COALESCE(string_agg(CASE WHEN h.fp IS NULL THEN f.chunk END,
         |    ' ' ORDER BY f.chunk_id), '') AS clean_text,
         |  CAST(SUM(CASE WHEN h.fp IS NOT NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_dropped
         |FROM f LEFT JOIN hot h ON f.fp = h.fp
         |GROUP BY f.doc_id
         |ORDER BY f.doc_id""".stripMargin) { (s, d) =>
      graft.dedup.Boilerplate
        .removeHotChunks(Tables.documents(s, d), chunkTokens = 2,
          topK = 20)
        .orderBy("doc_id")
    },

    // ---- exact frequent n-grams via the two-pass Count-Min gate
    //      (q95 is the complementary CMS role: a relational sketch
    //      whose ESTIMATES are the output; here the sketch is a scan-
    //      stage candidate gate and the output is EXACT):
    //      pass 1 sketches the 3-gram stream (fixed-size mergeable
    //      counters — the ONLY thing that crosses executors), pass 2
    //      probes the sketch inside the scan (CmsAtLeast, codegen) so
    //      only candidates reach the group-by. CMS never undercounts,
    //      so the gate can't drop a true hitter and the exact count
    //      makes the answer EXACT — the oracle is the plain ungated
    //      GROUP BY. At 100 TB the gate is what keeps the mostly-
    //      unique n-gram tail (which map-side partial agg cannot
    //      compress) out of the shuffle. ----
    GraftQuery("q123_cms_frequent_ngrams",
      s"""WITH t AS (SELECT $toksSql AS toks FROM documents),
         |s AS (SELECT unnest(${shinglesSql("toks", 3)}) AS shingle FROM t)
         |SELECT shingle, CAST(COUNT(*) AS BIGINT) AS n
         |FROM s GROUP BY shingle HAVING COUNT(*) >= 5
         |ORDER BY n DESC, shingle
         |LIMIT 20""".stripMargin) { (s, d) =>
      graft.text.HeavyHitters.hotShingles(
        Tables.documents(s, d), n = 3, minCount = 5, k = 20)
    },

    // ---- per-source dedup-rate report: the observability readout a
    //      curation pipeline keys retention decisions on (which feeds
    //      are mostly duplicates?). One grouped aggregate with a
    //      distinct-count — Spark plans it as expand + two-phase
    //      partial/final hash agg, one uniform shuffle on (source, fp);
    //      no join, no second scan. ----
    GraftQuery("q99_source_dedup_rate",
      """WITH f AS (SELECT source,
        |    md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
        |  FROM documents)
        |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(COUNT(DISTINCT fp) AS BIGINT) AS n_unique,
        |  round(1.0 - CAST(COUNT(DISTINCT fp) AS DOUBLE) / COUNT(*), 6)
        |    AS dup_rate
        |FROM f GROUP BY source
        |ORDER BY source""".stripMargin) { (s, d) =>
      Tables.spread(Tables.documents(s, d))
        .select(col("source"), fingerprint(col("text")).as("fp"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("fp")).as("n_unique"))
        .select(col("source"), col("n_docs"), col("n_unique"),
          round(lit(1.0) -
            col("n_unique").cast("double") / col("n_docs").cast("double"),
            6).as("dup_rate"))
        .orderBy("source")
    },

    // ---- SemDeDup-shaped semantic dedup with CONTENT-derived blocking:
    //      sign-LSH buckets (6 fixed hyperplanes -> 64 buckets) replace
    //      q45's given `label` blocks, then within-bucket cosine >= 0.3
    //      marks every doc dominated by an earlier same-bucket doc. The
    //      hyperplanes are deterministic integer vectors embedded
    //      identically in the Spark literals and the oracle SQL, and
    //      both engines fold the dot product left-to-right in double —
    //      bucket ids and similarities are bit-identical. Scale shape:
    //      one narrow shuffle on bucket, pairwise work bounded per
    //      bucket (more planes -> exponentially more, smaller buckets);
    //      the blocking is the documented approximation — a cross-
    //      bucket near-dup pair is out of scope by construction, the
    //      price of never materializing O(n²). ----
    GraftQuery("q116_semdedup_buckets", {
      val planeSql = semDedupPlanes.map(p =>
        p.map(_.toInt).mkString("CAST([", ", ", "] AS DOUBLE[])"))
      val bucketSql = planeSql.zipWithIndex.map { case (p, j) =>
        s"${1 << j} * (CASE WHEN list_inner_product(emb, $p) > 0" +
          " THEN 1 ELSE 0 END)"
      }.mkString(" + ")
      val cosSql = "list_inner_product(b1.emb, b2.emb) / " +
        "(sqrt(list_inner_product(b1.emb, b1.emb)) * " +
        "sqrt(list_inner_product(b2.emb, b2.emb)))"
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
         |           FROM embeddings),
         |b AS (SELECT vec_id, emb, CAST($bucketSql AS INTEGER) AS bucket
         |      FROM e),
         |dom AS (SELECT DISTINCT b2.vec_id
         |        FROM b b1 JOIN b b2
         |          ON b1.bucket = b2.bucket AND b1.vec_id < b2.vec_id
         |        WHERE $cosSql >= 0.3)
         |SELECT vec_id, bucket,
         |  (vec_id NOT IN (SELECT vec_id FROM dom)) AS survivor
         |FROM b ORDER BY vec_id""".stripMargin
    }) { (s, d) =>
      // anchorCap 256 never engages at oracle scale (max bucket ~16 at
      // sf0.01): the executed rule IS the SQL mirror's uncapped one
      graft.dedup.SemanticDedup
        .flagged(Tables.embeddings(s, d), "vec_id", "embedding",
          dim = 64, nPlanes = 6, theta = 0.3)
        .orderBy("vec_id")
    },
  )

  /** q116's sign-LSH hyperplanes — the shared deterministic generator,
    * so the SQL mirror and [[graft.dedup.SemanticDedup]]'s executed
    * literals are one source. */
  private lazy val semDedupPlanes: Seq[Seq[Double]] =
    graft.dedup.SemanticDedup.hyperplanes(nPlanes = 6, dim = 64)

  /** DuckDB mirror of simhash(text, SIMHASH_BITS) + pairwise hamming,
    * over `where`-bounded docs. Brute-force all-pairs: the oracle for
    * both the bounded q44 baseline and the banded q47 scale path (the
    * pigeonhole guarantee makes banding lossless at HAMMING_MAX). */
  private def simhashPairsSql(where: String): String = {
    val bits = (0 until SIMHASH_BITS).map { j =>
      s"""CASE WHEN list_sum(list_transform(hs,
         |  h -> ((h >> $j) % 2) * 2 - 1)) > 0
         |  THEN (CAST(1 AS BIGINT) << $j) ELSE 0 END""".stripMargin
    }.mkString(" + ")
    val ham = "bit_count(xor(a.sh, b.sh))"
    // 15 hex chars = 60-bit token hashes (mirrors tokenHashesWide);
    // 16 would overflow a signed BIGINT cast
    s"""WITH t AS (SELECT doc_id,
       |  list_transform($toksSql,
       |    x -> CAST(('0x' || substr(md5(x), 1, 15)) AS BIGINT)) AS hs
       |  FROM documents $where),
       |f AS (SELECT doc_id, $bits AS sh FROM t)
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(($ham) AS BIGINT) AS hamming
       |FROM f a JOIN f b ON a.doc_id < b.doc_id
       |WHERE ($ham) <= $HAMMING_MAX
       |ORDER BY doc_a, doc_b""".stripMargin
  }
}
