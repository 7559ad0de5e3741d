package graft

import graft.functions.TextFunctions._
import graft.functions.VectorFunctions._
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, rng}
import org.scalatest.funsuite.AnyFunSuite

/** Property-style tests (SURVEY.md §5): ScalaCheck generators with a
  * fixed seed produce one batch of random inputs, evaluated in a single
  * DataFrame pass (one Spark job per property, not one per case). */
class PropertySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def samples[T](g: Gen[T], n: Int): Seq[T] = {
    val params = Gen.Parameters.default
    (0 until n).flatMap(i =>
      g.apply(params, rng.Seed(42L + i)).toSeq)
  }

  test("partition values round-trip for arbitrary unicode strings") {
    // the encoding-stack property: a derived partition value passes
    // through url_encode (staging column), Hive path escaping (the
    // dir name partitionBy writes), our unescapePathValue, and
    // URLDecoder — for ANY string the manifest must record the exact
    // original, and readPartitions must address it. One append, one
    // entry per distinct value, one Spark job.
    val gen = Gen.oneOf(
      Gen.asciiPrintableStr.suchThat(_.nonEmpty),
      Gen.nonEmptyListOf(Gen.oneOf(Seq(
        "a", "%", "/", ":", "=", " ", "+", "#", "?", "\t",
        "\u00fc", "\u4e2d", "\ud83d\ude42", "\u00a0"))).map(_.mkString))
    val vals = samples(gen, 24).distinct
      .filter(v => v.nonEmpty && v != "__HIVE_DEFAULT_PARTITION__")
    assert(vals.size > 10, s"generator produced too few: $vals")
    val t = s"${java.nio.file.Files
      .createTempDirectory("graft-pprop")}/t"
    graft.sinks.ManifestTable.append(spark,
      vals.zipWithIndex.map { case (v, i) => (i.toLong, v) }
        .toDF("id", "par"),
      t, partitionSpec =
        Seq(graft.sinks.PartitionTransform.PIdentity("par")))
    val recorded = graft.sinks.ManifestTable.entriesOf(spark, t, 1L)
      .map(_.partition("par")).toSet
    assert(recorded == vals.toSet,
      s"lost: ${vals.toSet -- recorded}; extra: ${recorded -- vals.toSet}")
    // each value individually addressable
    vals.take(6).foreach { v =>
      assert(graft.sinks.ManifestTable.readPartitions(spark, t,
        Map("par" -> v)).count() == 1L, s"value '$v' unaddressable")
    }
  }

  test("manifest pruning parity: random commits, random probes, both surfaces") {
    // THE stats-layer property: for ANY table layout and ANY probe,
    // pruned-read + row-filter must equal full-read + row-filter —
    // pruning may only cut dirs that cannot contain matches. Randomize
    // the parts that have tripped real systems: overlapping/disjoint
    // key ranges per commit, all-null and null-mixed key columns,
    // commits that omit the stats column entirely, non-ASCII string
    // bounds, and probes ranging from empty to all-covering.
    val rnd = new scala.util.Random(7)
    val t = s"${java.nio.file.Files
      .createTempDirectory("graft-mprop")}/t"
    val langsPool = Seq("de", "en", "es", "fr", "zh", "中文")
    val rows = scala.collection.mutable.ArrayBuffer.empty[(Option[Long], String)]
    (0 until 6).foreach { i =>
      val batch = (0 until rnd.nextInt(5) + 1).map { _ =>
        val k = if (rnd.nextInt(8) == 0) None
          else Some(rnd.nextLong(50))
        (k, langsPool(rnd.nextInt(langsPool.size)))
      }
      rows ++= batch
      val df = batch.toDF("id", "lang")
      // every third commit records no stats at all (must never be
      // pruned); others record both columns
      graft.sinks.ManifestTable.append(spark, df, t,
        statsCols = if (i % 3 == 2) Nil else Seq("id", "lang"))
    }
    val all = rows.toSeq
    (0 until 15).foreach { _ =>
      val lo = rnd.nextLong(60) - 5
      val hi = lo + rnd.nextLong(30)
      val got = graft.sinks.ManifestTable
        .readPruned(spark, t, "id", lo, hi)
        .filter(col("id").between(lo, hi))
        .select("id").as[Long].collect().sorted.toSeq
      val want = all.flatMap(_._1).filter(k => k >= lo && k <= hi).sorted
      assert(got == want, s"long probe [$lo,$hi]")
      val lang = langsPool(rnd.nextInt(langsPool.size))
      val gotS = graft.sinks.ManifestTable
        .readPrunedStr(spark, t, "lang", lang, lang)
        .filter(col("lang") === lang).count()
      assert(gotS == all.count(_._2 == lang), s"string probe $lang")
    }
    // the SQL surface must agree with a plain read of the same rows
    val viaSql = spark.read.format("graft-manifest").load(t)
      .filter(col("id") >= 10 && col("id") < 30 && col("lang") =!= "zh")
      .count()
    val plain = all.count(r =>
      r._1.exists(k => k >= 10 && k < 30) && r._2 != "zh")
    assert(viaSql == plain)
  }

  test("deletion-vector round trip: random layouts, deletes, re-inserts") {
    // THE merge-on-read property: for ANY commit layout, ANY sequence
    // of interleaved deleteKeys / re-insert appends, and both key
    // types, every read surface must equal the model — rows whose key
    // was deleted AFTER their commit are gone, rows re-inserted after
    // their key's delete survive — and materialization must be a
    // pure no-op on content. Randomize what trips real systems:
    // deletes of absent keys, repeated deletes of the same key,
    // deletes spanning multiple dirs, empty delete sets.
    val rnd = new scala.util.Random(11)
    (0 until 3).foreach { round =>
      val t = s"${java.nio.file.Files
        .createTempDirectory("graft-dvprop")}/t"
      // model: (key, payload) multiset currently visible
      val live = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
      var nextPayload = 0
      def batch(keys: Seq[Long]): Seq[(Long, String)] =
        keys.map { k => nextPayload += 1; (k, s"p$nextPayload") }
      // seed commits
      (0 until rnd.nextInt(3) + 2).foreach { _ =>
        val b = batch(Seq.fill(rnd.nextInt(6) + 1)(rnd.nextLong(30)))
        live ++= b
        graft.sinks.ManifestTable.append(spark, b.toDF("id", "p"), t,
          statsCols = Seq("id"),
          bloomCols = if (rnd.nextBoolean()) Seq("id") else Nil)
      }
      // interleaved deletes and appends
      (0 until 6).foreach { _ =>
        if (rnd.nextBoolean()) {
          val ks = Seq.fill(rnd.nextInt(4))(rnd.nextLong(40)).distinct
          graft.sinks.ManifestTable.deleteKeys(spark,
            ks.toDF("id"), t, "id")
          live.filterInPlace(r => !ks.contains(r._1))
        } else {
          val b = batch(Seq.fill(rnd.nextInt(4) + 1)(rnd.nextLong(30)))
          live ++= b
          graft.sinks.ManifestTable.append(spark, b.toDF("id", "p"), t)
        }
      }
      def check(where: String): Unit = {
        val got = graft.sinks.ManifestTable.read(spark, t)
          .as[(Long, String)].collect().sorted.toSeq
        assert(got == live.sorted.toSeq, s"round $round $where")
        val gotSql = spark.read.format("graft-manifest").load(t)
          .as[(Long, String)].collect().sorted.toSeq
        assert(gotSql == live.sorted.toSeq, s"round $round $where SQL")
      }
      check("pending")
      graft.sinks.ManifestTable.rewriteDeletes(spark, t)
      check("materialized")
      assert(graft.sinks.ManifestTable.entriesOf(spark, t,
        graft.sinks.ManifestTable.latestVersion(spark, t).get)
        .forall(_.dv.isEmpty))
    }
  }

  test("bloom injection parity: random tables, keys, join types") {
    // the injected probe must NEVER change a join's answer — across
    // null keys, duplicate keys, empty match sets, and every join type
    // the rule may rewrite (plus left_anti, which it must leave alone)
    val keyGen = Gen.frequency(
      (9, Gen.chooseNum(0L, 30L).map(Option(_))),
      (1, Gen.const(Option.empty[Long])))
    val joinTypes =
      Seq("inner", "left_semi", "left_outer", "right_outer", "left_anti")
    val gated = spark.newSession()
    gated.conf.set("spark.graft.bloomJoin.applicationSideMinBytes", "1")
    gated.conf.set("spark.graft.bloomJoin.minSizeRatio", "1")
    gated.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    gated.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    def joined(s: org.apache.spark.sql.SparkSession, jt: String,
        big: Seq[(Option[Long], Int)], dim: Seq[Option[Long]]) = {
      import s.implicits._
      big.toDF("k", "payload")
        .join(dim.toDF("dk"), col("k") === col("dk"), jt)
    }
    def probes(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.optimizedPlan.collect {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
          f.condition.collect {
            case b: org.apache.spark.sql.catalyst.expressions
                .BloomFilterMightContain => b
          }.size
      }.sum
    (0 until 5).foreach { case0 =>
      val big = samples(keyGen, 300).zipWithIndex
      val dim = samples(keyGen, 12 + case0)
      joinTypes.foreach { jt =>
        val plainDf = joined(spark, jt, big, dim)
        val probedDf = joined(gated, jt, big, dim)
        // not vacuous: types where the BIG side is prunable must carry
        // a probe in the gated session; left_outer may only prune its
        // (small, gate-failing) right side, and left_anti prunes
        // nothing — both must stay untouched
        val expected =
          if (jt == "left_anti" || jt == "left_outer") 0 else 1
        assert(probes(probedDf) == expected && probes(plainDf) == 0,
          s"case=$case0 joinType=$jt probes=${probes(probedDf)}")
        val plain = plainDf.collect().map(_.mkString("|")).sorted.toSeq
        val probed = probedDf.collect().map(_.mkString("|")).sorted.toSeq
        assert(probed == plain,
          s"case=$case0 joinType=$jt: injected result diverged " +
            s"(plain=${plain.size} rows, probed=${probed.size})")
      }
    }
  }

  test("cosine: symmetric, bounded, self-similar for random vectors") {
    val vecGen = Gen.listOfN(16, Gen.chooseNum(-10.0f, 10.0f))
    val vecs = samples(vecGen, 60).map(_.toSeq).zipWithIndex
      .map { case (v, i) => (i.toLong, v) }
    val df = vecs.toDF("id", "v").cache()
    val pairs = df.as("x").crossJoin(df.as("y"))
      .select(col("x.id").as("i"), col("y.id").as("j"),
        cosine(col("x.v"), col("y.v")).as("s"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2))))
    val m = pairs.map { case (i, j, s) => (i, j) -> s }.toMap
    pairs.foreach { case (i, j, s) =>
      // symmetry (bit-exact: same fold order both directions per term)
      assert(m((j, i)).isDefined == s.isDefined)
      // bounded (up to fp slack)
      s.foreach(v => assert(v >= -1.0 - 1e-9 && v <= 1.0 + 1e-9))
      // self-similarity
      if (i == j) s.foreach(v => assert(math.abs(v - 1.0) < 1e-9))
    }
  }

  test("tokens/shingles invariants over random whitespace-noisy text") {
    val word = Gen.nonEmptyListOf(Gen.alphaLowerChar).map(_.mkString)
    val textGen = for {
      ws <- Gen.listOfN(12, word)
      seps <- Gen.listOfN(12, Gen.oneOf(" ", "  ", "\t", " \n "))
    } yield ws.zip(seps).map { case (w, s) => w + s }.mkString
    val texts = samples(textGen, 80)
    val rows = texts.toDF("text")
      .select(col("text"), tokens(col("text")).as("toks"))
      .select(
        size(col("toks")).as("n"),
        size(shinglesOf(col("toks"), 3)).as("n3"),
        tokenCountOf(col("toks")).as("tc"),
        subwordCount(col("text")).as("sw"))
      .collect()
    rows.foreach { r =>
      val (n, n3, tc, sw) = (r.getInt(0), r.getInt(1), r.getLong(2),
        r.getLong(3))
      assert(n3 == math.max(0, n - 2)) // |shingles| = max(0, n-k+1)
      assert(tc == n)
      assert(sw >= tc) // subwords at least as many as whitespace tokens
    }
  }

  test("native token_hashes equals the composed tokenize+md5 chain") {
    // adversarial text: mixed-case unicode, every ASCII whitespace
    // variant, empty and whitespace-only strings, multibyte tokens
    val weird = Gen.oneOf(
      Gen.nonEmptyListOf(Gen.alphaChar).map(_.mkString),
      Gen.const("ÄÖÜ-Straße"), Gen.const("ΣΊΣΥΦΟΣ"), Gen.const("日本語"),
      Gen.const("ab"), Gen.const("x\f\ry"), Gen.const("emoji🙂tok"),
      Gen.const(""), Gen.const("  \t "), Gen.const("MiXeD123!@#"))
    val sep = Gen.oneOf(" ", "\t", "\n", "\r\n", "  ", " \f ")
    val textGen = for {
      ws <- Gen.listOfN(6, weird)
      ss <- Gen.listOfN(6, sep)
    } yield ws.zip(ss).map { case (w, s) => w + s }.mkString
    val texts = samples(textGen, 120).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }
    val df = texts.toDF("id", "text")
    for (wide <- Seq(false, true)) {
      val composed = if (wide) tokenHashesWide(tokens(col("text")))
        else tokenHashes(tokens(col("text")))
      val native = if (wide) tokenHashesWideOfText(col("text"))
        else tokenHashesOfText(col("text"))
      val bad = df.select(col("id"), composed.as("a"), native.as("b"))
        .filter(not(col("a") === col("b")))
        .count()
      assert(bad == 0L, s"wide=$wide mismatches")
    }
  }

  test("minhash signature agreement is monotone-ish in shared content") {
    // identical docs agree on all components; unrelated docs on few
    val texts = samples(Gen.listOfN(30,
      Gen.nonEmptyListOf(Gen.alphaLowerChar).map(_.mkString))
      .map(_.mkString(" ")), 20)
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .withColumn("th", tokenHashes(col("toks")))
      .withColumn("hs", shingleHashesOf(col("th"), 3))
      .select(col("doc_id"), minhashSignature(col("hs"), 12).as("sig"))
    val sigs = df.collect()
      .map(r => r.getLong(0) -> r.getAs[collection.Seq[Long]]("sig"))
    for ((i, si) <- sigs; (j, sj) <- sigs if i < j) {
      val agree = si.zip(sj).count { case (a, b) => a == b }
      assert(agree <= 12)
      // distinct random docs should not agree on the full signature
      assert(agree < 12 || si == sj)
    }
    // and equality holds for equal text
    val t = texts.head
    val dup = Seq((0L, t), (1L, t)).toDF("doc_id", "text")
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .withColumn("th", tokenHashes(col("toks")))
      .withColumn("hs", shingleHashesOf(col("th"), 3))
      .select(minhashSignature(col("hs"), 12).as("sig"))
      .collect().map(_.getAs[collection.Seq[Long]]("sig"))
    assert(dup(0) == dup(1))
  }

  test("featurize output is always unit norm or zero for random text") {
    val textGen = Gen.oneOf(
      Gen.const(""),
      Gen.const("   "),
      Gen.nonEmptyListOf(Gen.nonEmptyListOf(Gen.alphaNumChar)
        .map(_.mkString)).map(_.mkString(" ")))
    val texts = samples(textGen, 60)
    val norms = texts.toDF("text")
      .select(featurize(col("text"), 16).as("v"))
      .select(sqrt(dotProduct(col("v"), col("v"))).as("n"))
      .collect().map(_.getDouble(0))
    norms.foreach(n =>
      assert(n == 0.0 || math.abs(n - 1.0) < 1e-9))
  }

  test("boilerplate removal with topK=0 is the identity on tokenized text") {
    // with nothing hot, reassembly must reproduce every doc's
    // whitespace-normalized text exactly — pins chunk ordering, the
    // ragged last chunk, and the join separator in one property
    val word = Gen.oneOf("aa", "bb", "cc", "dd", "ee", "ff", "gg")
    val docGen = Gen.chooseNum(1, 9).flatMap(n =>
      Gen.listOfN(n, word).map(_.mkString(" ")))
    val docs = samples(docGen, 80).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val out = graft.dedup.Boilerplate
      .removeHotChunks(docs, chunkTokens = 2, topK = 0)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2)))
      .toMap
    docs.collect().foreach { r =>
      val (clean, dropped) = out(r.getLong(0))
      assert(clean === r.getString(1), s"doc ${r.getLong(0)} mangled")
      assert(dropped === 0L)
    }
  }

  test("simhash banding is lossless at Hamming<=3 on random corpora") {
    // pigeonhole: <=3 differing bits over 4 bands of 15 => some band
    // equal, so banded candidate generation must find EVERY qualifying
    // pair that brute force finds (random words force hash diversity).
    // Same 60-bit / 4-band configuration q44/q47 ship.
    val bits = 60
    val nBands = 4
    val bandBits = bits / nBands
    val mask = (1L << bandBits) - 1
    val word = Gen.oneOf("alpha", "beta", "gamma", "delta", "epsilon",
      "zeta", "eta", "theta", "iota", "kappa", "mu", "nu")
    val docGen = Gen.listOfN(12, word).map(_.mkString(" "))
    // at 60 bits a one-token edit flips ~6 bits on a 12-token doc, so
    // random samples alone may yield zero qualifying pairs — append
    // exact duplicates (hamming 0) to guarantee brute.nonEmpty
    val sampled = samples(docGen, 140)
    val docs = (sampled ++ sampled.take(10)).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .withColumn("th", tokenHashesWide(col("toks")))
      .select(col("doc_id"), simhashOf(col("th"), bits).as("sh"))
      .cache()
    val brute = docs.as("a").join(docs.as("b"),
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id"), col("b.doc_id"),
        hammingDistance(col("a.sh"), col("b.sh"), bits).as("h"))
      .filter(col("h") <= 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val bexp = docs.select(col("doc_id"), col("sh"),
      posexplode(array((0 until nBands).map(j =>
        shiftright(col("sh"), j * bandBits).bitwiseAND(lit(mask))): _*))
        .as(Seq("band", "bv")))
    val cand = bexp.as("a").join(bexp.as("b"),
        col("a.band") === col("b.band") && col("a.bv") === col("b.bv") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"),
        hammingDistance(col("a.sh"), col("b.sh"), bits).as("h"))
      .filter(col("h") <= 3)
      .select("da", "db").distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cand === brute)
    assert(brute.nonEmpty) // the generator must actually produce near-dups
  }

  test("int8 quantization error is bounded by half a step, codes in range") {
    val vecGen = Gen.listOfN(32, Gen.chooseNum(-50.0f, 50.0f))
    val vecs = samples(vecGen, 80).map(_.toSeq).zipWithIndex
      .map { case (v, i) => (i.toLong, v) }
    // the SHARED engine implementation (same columns q70 ships)
    val e = graft.functions.VectorFunctions.withInt8Quantization(
      vecs.toDF("vec_id", "embedding")
        .select(col("vec_id"),
          transform(col("embedding"), _.cast("double")).as("ev")))
      .select(col("scale"),
        array_max(zip_with(col("ev"), col("qv"), (x, q) =>
          abs(x - (col("mn") + q.cast("double") * col("scale")))))
          .as("max_err"),
        array_min(col("qv")).as("qmin"), array_max(col("qv")).as("qmax"))
      .collect()
    e.foreach { r =>
      // round-to-nearest: reconstruction error <= half a quantization
      // step; codes stay within the int8 range 0..255
      assert(r.getDouble(1) <= r.getDouble(0) / 2 + 1e-9)
      assert(r.getLong(2) >= 0L && r.getLong(3) <= 255L)
    }
  }

  test("salted join equals plain join on random skewed tables") {
    val keyGen = Gen.frequency(8 -> Gen.const("hot"),
      2 -> Gen.oneOf("a", "b", "c", "d"))
    val left = samples(keyGen, 200).zipWithIndex
      .map { case (k, i) => (i.toLong, k) }
    val right = Seq("hot", "a", "b", "c", "d", "never")
      .zipWithIndex.map { case (k, w) => (k, w.toLong) }
    val lDf = left.toDF("id", "k")
    val rDf = right.toDF("k", "w")
    val plain = lDf.join(rDf, "k").select("id", "w")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    for (salts <- Seq(1, 3, 16)) {
      val salted = operators.Joins.saltedJoin(lDf, rDf, "k", "id", salts)
        .select("id", "w")
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      assert(salted === plain, s"salts=$salts")
    }
  }

  test("chunking covers every token exactly once at stride offsets") {
    val width = 64
    val stride = 48
    val nGen = Gen.chooseNum(1, 300)
    val docs = samples(nGen, 60).zipWithIndex.map { case (n, i) =>
      (i.toLong, (0 until n).map(j => s"w$j").mkString(" "))
    }
    val out = docs.toDF("doc_id", "text")
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .withColumn("start",
        explode(sequence(lit(0), size(col("toks")) - 1, lit(stride))))
      .select(col("doc_id"), col("start"),
        slice(col("toks"), col("start") + 1, lit(width)).as("chunk"))
      .collect()
      .map(r => (r.getLong(0), r.getInt(1),
        r.getSeq[String](2)))
      .groupBy(_._1)
    docs.foreach { case (id, text) =>
      val n = text.split(" ").length
      val chunks = out(id).sortBy(_._2)
      // starts are exactly the stride grid below n
      assert(chunks.map(_._2).toSeq === (0 until n by stride))
      // every chunk bounded by width; non-final chunks reach width or n
      chunks.foreach { case (_, s, c) =>
        assert(c.length <= width && c.length === math.min(width, n - s)) }
      // stitching non-overlapping prefixes reconstructs the doc
      val stitched = chunks.flatMap { case (_, s, c) =>
        c.take(math.min(stride, c.length)) }
      assert(stitched.toSeq === text.split(" ").toSeq)
    }
  }

  test("incremental candidates never pair existing docs, cover union pairs") {
    val word = Gen.oneOf("alpha", "beta", "gamma", "delta", "epsilon",
      "zeta", "eta", "theta")
    val textGen = Gen.listOfN(8, word).map(_.mkString(" "))
    val texts = samples(textGen, 40)
    val existing = texts.take(25).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }
    val incoming = texts.drop(25).zipWithIndex
      .map { case (t, i) => ((100 + i).toLong, t) }
    val existingIds = existing.map(_._1).toSet
    val got = graft.dedup.NearDup.incrementalCandidatePairs(
      existing.toDF("doc_id", "text"), incoming.toDF("doc_id", "text"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // doc_b always incoming; doc_a any prior doc; ordered within batch
    assert(got.forall { case (a, b) =>
      !existingIds.contains(b) && (existingIds.contains(a) || a < b) })
    // consistency with the batch API over the union: every incremental
    // candidate that involves an incoming doc_b must appear there too
    val unionPairs = graft.dedup.NearDup.candidatePairs(
      (existing ++ incoming).toDF("doc_id", "text"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.subsetOf(unionPairs))
    // and the union's incoming-involving pairs are exactly `got`
    val unionIncoming = unionPairs.filterNot { case (a, b) =>
      existingIds.contains(a) && existingIds.contains(b) }
    assert(got === unionIncoming)
  }

  test("native punct count equals the regex formulation on noisy text") {
    val charGen = Gen.frequency(
      6 -> Gen.alphaNumChar.map(_.toString),
      2 -> Gen.oneOf(" ", "\t", "\n", "\u000B", "\f", "\r"),
      3 -> Gen.oneOf("!", ".", ",", ";", "@", "#", "(", ")", "-", "_"),
      // multi-byte codepoints, incl. a supplementary-plane emoji
      2 -> Gen.oneOf("\u00e9", "\u00fc", "\u00df", "\u00f1",
        "\u4e2d", "\u6587", "\ud83d\ude42"))
    val textGen = Gen.listOfN(40, charGen).map(_.mkString)
    val texts = samples(textGen, 120) :+ "" :+ "   " :+ "abc123"
    val rows = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text")
      .select(col("id"),
        graft.expressions.TextExpressions.punctCountF(col("text"))
          .as("native"),
        (length(col("text")) -
          length(regexp_replace(col("text"), "[^a-zA-Z0-9\\s]", "")))
          .cast("long").as("regex"),
        graft.expressions.TextExpressions.subwordCountF(col("text"))
          .as("sw_native"),
        size(regexp_extract_all(col("text"),
          lit("[A-Za-z0-9]+|[^A-Za-z0-9\\s]"), lit(0)))
          .cast("long").as("sw_regex"))
      .collect()
    rows.foreach { r =>
      assert(r.getLong(1) === r.getLong(2), s"punct text#${r.getLong(0)}")
      assert(r.getLong(3) === r.getLong(4), s"subword text#${r.getLong(0)}")
    }
  }

  test("count-min estimates never undercount on random key streams") {
    val d = "/root/testdata/sf0.001"
    val rows = SparkEntry.queries("q95_count_min_sketch")(spark, d)
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(rows.nonEmpty)
    // the CMS invariant: collisions only ADD, so est >= true always
    rows.foreach { case (tru, est) => assert(est >= tru, s"$est < $tru") }
  }

  test("components matches sequential union-find on random edge sets") {
    val edgeGen = for {
      a <- Gen.chooseNum(0L, 39L)
      b <- Gen.chooseNum(0L, 39L) if a != b
    } yield (math.min(a, b), math.max(a, b))
    val edges = samples(edgeGen, 60).distinct
    // reference union-find
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    val expect = nodes.map(n => n -> find(n)).toMap
    // both resolution paths: driver union-find and pointer jumping
    Seq(graft.dedup.NearDup.DriverEdges, -1).foreach { bound =>
      val got = graft.dedup.NearDup
        .componentsBounded(edges.toDF("doc_a", "doc_b"), 20, bound)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === expect, s"driverEdges = $bound")
    }
  }

  test("zorder_value: random inputs decode to per-axis cells; Long-wide spans don't wrap") {
    import org.apache.spark.sql.GraftSqlBridge
    // inverse of the Morton spread: gather the even bits back
    def compact(z: Long): Long = {
      var x = z & 0x55555555L
      x = (x | (x >> 1)) & 0x33333333L
      x = (x | (x >> 2)) & 0x0F0F0F0FL
      x = (x | (x >> 4)) & 0x00FF00FFL
      (x | (x >> 8)) & 0x0000FFFFL
    }
    // the documented scale step (double arithmetic, clamped)
    def cellRef(v: Long, min: Long, max: Long): Long =
      if (max <= min) 0L
      else {
        val c = ((v.toDouble - min.toDouble) /
          (max.toDouble - min.toDouble) * 65535.0).toLong
        math.max(0L, math.min(65535L, c))
      }
    // three grids: a normal key range, a single-value degenerate, and
    // a span WIDER than Long range (max - min would wrap in 64-bit
    // integer arithmetic — the caught bug collapsed every tile there)
    val grids = Seq(
      (0L, 100000L), (7L, 7L), (-(1L << 62), 1L << 62))
    for ((mn, mx) <- grids) {
      val vGen = Gen.chooseNum(
        math.max(Long.MinValue / 2, mn - 10), // stay clear of .toDouble edge-cases at Long.Min itself
        math.min(Long.MaxValue / 2, mx + 10))
      val cases = samples(Gen.zip(vGen, vGen), 200)
      val z = GraftSqlBridge.column(graft.expressions.ZOrderValue(
        GraftSqlBridge.expression(col("a")),
        GraftSqlBridge.expression(col("b")), mn, mx, mn, mx))
      val got = cases.toDF("a", "b").select(col("a"), col("b"), z.as("z"))
        .as[(Long, Long, Long)].collect()
      got.foreach { case (a, b, zv) =>
        assert(zv >= 0L && zv < (1L << 32), s"zval range: $zv")
        assert(compact(zv) == cellRef(a, mn, mx),
          s"axis-a cell for ($a, grid $mn..$mx)")
        assert(compact(zv >> 1) == cellRef(b, mn, mx),
          s"axis-b cell for ($b, grid $mn..$mx)")
      }
      // per-axis monotonicity (cells never decrease as the key grows):
      // the property row-group pruning rests on
      val byA = got.sortBy(_._1).map(t => compact(t._3))
      assert(byA.zip(byA.tail).forall { case (x, y) => x <= y },
        s"monotone cells on grid $mn..$mx")
    }
  }

  test("DML routing parity: random layouts + key sets, every DELETE " +
      "route equals the reference filter") {
    // THE round-16 property: whatever route the classifier picks —
    // string-IN merge-on-read, integral-IN merge-on-read, single
    // point via the range path, IN-subquery materialization — the
    // surviving rows must equal filter(NOT cond) computed on the
    // pre-delete content. Randomize what trips real systems: key
    // sets that hit none/some/all dirs, duplicate and NULL list
    // entries, interleaved vs range-disjoint layouts.
    val rnd = new scala.util.Random(77)
    (0 until 4).foreach { round =>
      val t = s"${java.nio.file.Files
        .createTempDirectory(s"graft-dmlprop$round")}/t"
      val n = 40 + rnd.nextInt(60)
      val rows = (0 until n).map(i =>
        (i.toLong, s"k${rnd.nextInt(n)}", rnd.nextInt(50).toLong))
      val interleaved = rnd.nextBoolean()
      val parts = 2 + rnd.nextInt(3)
      (0 until parts).foreach { p =>
        val slice = rows.zipWithIndex.collect {
          case ((id, k, v), ix)
              if (if (interleaved) ix % parts == p
                  else ix * parts / rows.size == p) => (id, k, v)
        }
        if (slice.nonEmpty)
          graft.sinks.ManifestTable.append(spark,
            slice.toDF("id", "key", "n"), t,
            statsCols = Seq("id", "n"), bloomCols = Seq("key", "id"))
      }
      spark.read.format("graft-manifest").load(t)
        .createOrReplaceTempView(s"dmlprop$round")
      var live = rows
      def check(sql: String, keep: ((Long, String, Long)) => Boolean,
          what: String): Unit = {
        spark.sql(sql)
        live = live.filter(keep)
        val got = graft.sinks.ManifestTable.read(spark, t)
          .select("id", "key", "n").collect()
          .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
          .sortBy(_._1).toSeq
        assert(got == live.sortBy(_._1),
          s"round $round $what diverged (interleaved=$interleaved, " +
            s"parts=$parts):\n  got  $got\n  want ${live.sortBy(_._1)}")
      }
      // string IN list with dup + NULL entries (merge-on-read route)
      val sk = Seq.fill(3)(s"k${rnd.nextInt(n)}")
      check(s"DELETE FROM dmlprop$round WHERE key IN " +
        sk.mkString("('", "', '", s"', '${sk.head}', NULL)"),
        r => !sk.contains(r._2), "string-IN")
      // integral IN list straddling present/absent keys
      val ik = Seq.fill(4)(rnd.nextInt(2 * n).toLong)
      check(s"DELETE FROM dmlprop$round WHERE id IN " +
        ik.mkString("(", ", ", ")"),
        r => !ik.contains(r._1), "int-IN")
      // single point (range fast path)
      val p1 = rnd.nextInt(n).toLong
      check(s"DELETE FROM dmlprop$round WHERE id = $p1",
        r => r._1 != p1, "point-range")
      // uncorrelated IN-subquery over the table's own live content
      val thr = rnd.nextInt(50)
      check(s"DELETE FROM dmlprop$round WHERE key IN " +
        s"(SELECT key FROM dmlprop$round WHERE n < $thr)",
        r => !live.exists(x => x._2 == r._2 && x._3 < thr),
        "IN-subquery")
    }
  }

  test("over-cap subquery route parity: random layouts + a tiny cap, " +
      "the join routes equal the reference computation") {
    // The round-17 twin of the routing-parity property: with the
    // inline cap forced tiny, DELETE and UPDATE `col IN (SELECT …)`
    // statements take the join routes (deleteKeys frame /
    // updateKeysFrame) — whatever the layout, the surviving/patched
    // content must equal the reference computed on pre-statement
    // content, and the UPDATE's commit op proves WHICH route ran.
    val rnd = new scala.util.Random(78)
    val capK = "spark.graft.dml.maxInlineSubqueryKeys"
    try {
      (0 until 3).foreach { round =>
        val t = s"${java.nio.file.Files
          .createTempDirectory(s"graft-capprop$round")}/t"
        val n = 40 + rnd.nextInt(60)
        val rows = (0 until n).map(i =>
          (i.toLong, s"k${rnd.nextInt(n)}", rnd.nextInt(50).toLong))
        val interleaved = rnd.nextBoolean()
        val parts = 2 + rnd.nextInt(3)
        (0 until parts).foreach { p =>
          val slice = rows.zipWithIndex.collect {
            case ((id, k, v), ix)
                if (if (interleaved) ix % parts == p
                    else ix * parts / rows.size == p) => (id, k, v)
          }
          if (slice.nonEmpty)
            graft.sinks.ManifestTable.append(spark,
              slice.toDF("id", "key", "n"), t,
              statsCols = Seq("id", "n"), bloomCols = Seq("key", "id"))
        }
        spark.read.format("graft-manifest").load(t)
          .createOrReplaceTempView(s"capprop$round")
        spark.conf.set(capK, (1 + rnd.nextInt(4)).toString)
        val cap = spark.conf.get(capK).toInt
        var live = rows
        def content() = graft.sinks.ManifestTable.read(spark, t)
          .select("id", "key", "n").collect()
          .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
          .sortBy(_._1).toSeq
        // UPDATE first (content still dense): patch every row whose
        // key the subquery selects, through the frame route
        val thrU = 10 + rnd.nextInt(30)
        val keysU = live.filter(_._3 < thrU).map(_._2).distinct.toSet
        spark.sql(s"UPDATE capprop$round SET n = n + 1000 WHERE " +
          s"key IN (SELECT key FROM capprop$round WHERE n < $thrU)")
        live = live.map(r =>
          if (keysU.contains(r._2)) r.copy(_3 = r._3 + 1000L) else r)
        assert(content() == live.sortBy(_._1),
          s"round $round UPDATE diverged (cap=$cap, " +
            s"interleaved=$interleaved)")
        if (keysU.size > cap) {
          val v = graft.sinks.ManifestTable.latestVersion(spark, t).get
          assert(graft.sinks.ManifestTable.commitInfoOf(spark, t, v)
            .exists(_._1 == "updateKeysFrame"),
            s"round $round: ${keysU.size} keys over cap $cap must " +
              "route updateKeysFrame")
        }
        // then the DELETE frame route over the patched content
        val thrD = 1000 + rnd.nextInt(30)
        val keysD = live.filter(_._3 < thrD).map(_._2).distinct.toSet
        spark.sql(s"DELETE FROM capprop$round WHERE key IN " +
          s"(SELECT key FROM capprop$round WHERE n < $thrD)")
        live = live.filterNot(r => keysD.contains(r._2))
        assert(content() == live.sortBy(_._1),
          s"round $round DELETE diverged (cap=$cap, " +
            s"interleaved=$interleaved)")
        // RESIDUAL-conjunct routes (round 18): membership stays the
        // key-frame join, the residual gates rows — patch/delete only
        // rows matching BOTH, whatever the layout
        val keysR = live.map(_._2).distinct.toSet
        spark.sql(s"UPDATE capprop$round SET n = n + 7 WHERE key IN " +
          s"(SELECT key FROM capprop$round) AND id % 2 = 0")
        live = live.map(r =>
          if (r._1 % 2 == 0) r.copy(_3 = r._3 + 7L) else r)
        assert(content() == live.sortBy(_._1),
          s"round $round residual UPDATE diverged (cap=$cap)")
        if (keysR.size > cap) {
          val v = graft.sinks.ManifestTable.latestVersion(spark, t).get
          assert(graft.sinks.ManifestTable.commitInfoOf(spark, t, v)
            .exists(_._1 == "updateKeysFrame"),
            s"round $round: residual UPDATE over cap must route " +
              "updateKeysFrame")
        }
        spark.sql(s"DELETE FROM capprop$round WHERE key IN " +
          s"(SELECT key FROM capprop$round) AND id % 3 = 1")
        val keysE = keysR
        live = live.filterNot(r => r._1 % 3 == 1)
        assert(content() == live.sortBy(_._1),
          s"round $round residual DELETE diverged (cap=$cap)")
        if (keysE.size > cap) {
          val v = graft.sinks.ManifestTable.latestVersion(spark, t).get
          assert(graft.sinks.ManifestTable.commitInfoOf(spark, t, v)
            .exists(_._1 == "deleteKeysFrameWhere"),
            s"round $round: residual DELETE over cap must route " +
              "deleteKeysFrameWhere")
        }
        // COMPOSITE-key tuple routes (round 18): (id, key) membership
        // routes the tuple-frame paths at ANY size — parity against
        // the reference computation on whatever content survived
        val evenRows = live.filter(_._3 % 2 == 0)
          .map(r => (r._1, r._2)).toSet
        spark.sql(s"UPDATE capprop$round SET n = n + 3 WHERE " +
          s"(id, key) IN (SELECT id, key FROM capprop$round " +
          "WHERE n % 2 = 0)")
        live = live.map(r =>
          if (evenRows((r._1, r._2))) r.copy(_3 = r._3 + 3L) else r)
        assert(content() == live.sortBy(_._1),
          s"round $round composite UPDATE diverged (cap=$cap)")
        if (evenRows.nonEmpty) {
          val v = graft.sinks.ManifestTable.latestVersion(spark, t).get
          assert(graft.sinks.ManifestTable.commitInfoOf(spark, t, v)
            .exists(_._1 == "updateTuplesFrame"),
            s"round $round: composite UPDATE must route " +
              "updateTuplesFrame")
        }
        val delRows = live.filter(_._1 % 4 == 2)
          .map(r => (r._1, r._2)).toSet
        spark.sql(s"DELETE FROM capprop$round WHERE (id, key) IN " +
          s"(SELECT id, key FROM capprop$round WHERE id % 4 = 2)")
        live = live.filterNot(r => delRows((r._1, r._2)))
        assert(content() == live.sortBy(_._1),
          s"round $round composite DELETE diverged (cap=$cap)")
        if (delRows.nonEmpty) {
          val v = graft.sinks.ManifestTable.latestVersion(spark, t).get
          assert(graft.sinks.ManifestTable.commitInfoOf(spark, t, v)
            .exists(_._1 == "deleteTuplesFrame"),
            s"round $round: composite DELETE must route " +
              "deleteTuplesFrame")
        }
      }
    } finally spark.conf.unset(capK)
  }
}
