package perfbench

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

import java.time.LocalDateTime
import scala.util.Random

/** Seeded input generators. The program sees only what these write. */
object Gen {
  val Vocab: IndexedSeq[String] = IndexedSeq("spark", "window", "merge",
    "table", "column", "vector", "stream", "value", "data", "small", "join",
    "filter", "big", "group", "hash", "customer", "sort", "order", "slow",
    "line", "part", "fast", "row", "the", "agg", "key", "query", "a",
    "scan", "batch")
  private val Langs = IndexedSeq("en", "en", "en", "zh", "es", "fr", "de")

  def words(r: Random, lo: Int, hi: Int): String =
    Seq.fill(lo + r.nextInt(hi - lo + 1))(Vocab(r.nextInt(Vocab.size)))
      .mkString(" ")

  /** A near-duplicate of `text`: one word replaced, or a word appended. */
  def perturb(r: Random, text: String): String = {
    val ws = text.split(' ')
    if (r.nextBoolean()) (ws :+ "dup").mkString(" ")
    else {
      ws(r.nextInt(ws.length)) = Vocab(r.nextInt(Vocab.size))
      ws.mkString(" ")
    }
  }

  /** Document texts of 10 to 100 words; a `dupShare` of them (after the
    * first) copies an earlier text with one perturbation. Returns the
    * texts and which indices are near-duplicates. */
  def texts(r: Random, n: Int, dupShare: Double): (IndexedSeq[String], Set[Int]) = {
    val out = new Array[String](n)
    val dups = Set.newBuilder[Int]
    for (i <- 0 until n) {
      if (i > 0 && r.nextDouble() < dupShare) {
        out(i) = perturb(r, out(r.nextInt(i)))
        dups += i
      } else out(i) = words(r, 10, 100)
    }
    (out.toIndexedSeq, dups.result())
  }

  private def ts(r: Random, from: LocalDateTime, spanSec: Long): LocalDateTime =
    from.plusNanos((r.nextDouble() * spanSec * 1e6).toLong * 1000L)

  /** Sizes of the generated star schema; documents carry the workload. */
  final case class Sizes(docs: Int, embeddings: Int, events: Int,
      orders: Int, parts: Int, customers: Int, lineitems: Int)

  /** The ten testdata tables under `dir`, with the testdata schemas. */
  def tables(spark: SparkSession, dir: String, seed: Long, sz: Sizes,
      dupShare: Double): Set[Int] = {
    val r = new Random(seed)
    // one parquet FILE per table, as the repository's testdata has: DuckDB
    // reads `<dir>/<name>.parquet` as a file, not as a directory
    def write(name: String, schema: StructType, rows: Seq[Row]): Unit = {
      val tmp = new java.io.File(s"$dir/_$name")
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .coalesce(1).write.mode("overwrite").parquet(tmp.getPath)
      val part = tmp.listFiles().filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(part.toPath, new java.io.File(s"$dir/$name.parquet").toPath)
      tmp.listFiles().foreach(_.delete())
      tmp.delete()
    }
    def st(fs: (String, DataType)*) =
      StructType(fs.map { case (n, t) => StructField(n, t) })

    val (txt, dups) = texts(r, sz.docs, dupShare)
    write("documents", st("doc_id" -> LongType, "text" -> StringType,
      "lang" -> StringType, "source" -> StringType, "n_chars" -> LongType),
      txt.indices.map(i => Row(i.toLong, txt(i), Langs(r.nextInt(Langs.size)),
        s"src${i % 20}", txt(i).length.toLong)))

    write("embeddings", st("vec_id" -> LongType,
      "embedding" -> ArrayType(FloatType), "label" -> IntegerType),
      (0 until sz.embeddings).map(i => Row(i.toLong,
        Seq.fill(64)((r.nextGaussian() * 0.12).toFloat), r.nextInt(10))))

    val types = IndexedSeq("signup", "purchase", "view", "click", "error")
    val t0 = LocalDateTime.of(2024, 1, 1, 0, 0)
    val evTs = Seq.fill(sz.events)(ts(r, t0, 30L * 86400)).sorted
    write("events", st("event_id" -> LongType, "ts" -> TimestampNTZType,
      "user_id" -> LongType, "event_type" -> StringType,
      "value" -> DoubleType, "props" -> StringType),
      evTs.indices.map(i => Row(i.toLong, evTs(i), r.nextInt(1500).toLong,
        types(r.nextInt(types.size)),
        math.round(-math.log(1 - r.nextDouble()) * 5000) / 100.0,
        s"""{"k": ${r.nextInt(100)}}""")))

    val d0 = LocalDateTime.of(1992, 1, 1, 0, 0)
    val prio = IndexedSeq("1-URGENT", "2-HIGH", "3-MEDIUM",
      "4-NOT SPECIFIED", "5-LOW")
    write("orders", st("o_orderkey" -> LongType, "o_custkey" -> LongType,
      "o_orderstatus" -> StringType, "o_totalprice" -> DoubleType,
      "o_orderdate" -> TimestampNTZType, "o_orderpriority" -> StringType),
      (0 until sz.orders).map(i => Row(i.toLong,
        r.nextInt(sz.customers).toLong, "FOP".charAt(r.nextInt(3)).toString,
        math.round(100000 + r.nextDouble() * 40000000) / 100.0,
        d0.plusDays(r.nextInt(3650)), prio(r.nextInt(prio.size)))))

    val adj = IndexedSeq("large", "hot", "blue", "small", "red", "green")
    val noun = IndexedSeq("ring", "bolt", "nut", "screw", "gear", "pipe")
    val ptype = IndexedSeq("LARGE", "ECONOMY", "SMALL", "STANDARD",
      "MEDIUM", "PROMO")
    write("part", st("p_partkey" -> LongType, "p_name" -> StringType,
      "p_brand" -> StringType, "p_type" -> StringType,
      "p_size" -> IntegerType, "p_retailprice" -> DoubleType),
      (0 until sz.parts).map(i => Row(i.toLong,
        s"${adj(r.nextInt(adj.size))} ${noun(r.nextInt(noun.size))}",
        s"Brand#${1 + r.nextInt(25)}", ptype(r.nextInt(ptype.size)),
        1 + r.nextInt(50), 900.0 + (i % 1000) / 10.0)))

    val seg = IndexedSeq("AUTOMOBILE", "BUILDING", "FURNITURE",
      "HOUSEHOLD", "MACHINERY")
    write("customer", st("c_custkey" -> LongType, "c_name" -> StringType,
      "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType,
      "c_mktsegment" -> StringType),
      (0 until sz.customers).map(i => Row(i.toLong, f"Customer#$i%09d",
        r.nextInt(25), math.round(r.nextDouble() * 1000000) / 100.0,
        seg(r.nextInt(seg.size)))))
    write("supplier", st("s_suppkey" -> LongType, "s_name" -> StringType,
      "s_nationkey" -> IntegerType, "s_acctbal" -> DoubleType),
      (0 until 100).map(i => Row(i.toLong, f"Supplier#$i%09d",
        r.nextInt(25), math.round(r.nextDouble() * 1000000) / 100.0)))
    write("lineitem", st("l_orderkey" -> LongType, "l_partkey" -> LongType,
      "l_suppkey" -> LongType, "l_linenumber" -> IntegerType,
      "l_quantity" -> DoubleType, "l_extendedprice" -> DoubleType,
      "l_discount" -> DoubleType, "l_tax" -> DoubleType,
      "l_returnflag" -> StringType, "l_linestatus" -> StringType,
      "l_shipdate" -> TimestampNTZType),
      (0 until sz.lineitems).map(i => Row((i / 4).toLong,
        r.nextInt(sz.parts).toLong, r.nextInt(100).toLong, i % 4 + 1,
        (1 + r.nextInt(50)).toDouble, math.round(r.nextDouble() * 10000000) / 100.0,
        r.nextInt(11) / 100.0, r.nextInt(9) / 100.0,
        "ARN".charAt(r.nextInt(3)).toString, "OF".charAt(r.nextInt(2)).toString,
        d0.plusDays(r.nextInt(3650)))))
    write("nation", st("n_nationkey" -> IntegerType, "n_name" -> StringType,
      "n_regionkey" -> IntegerType),
      (0 until 25).map(i => Row(i, s"NATION$i", i % 5)))
    write("region", st("r_regionkey" -> IntegerType, "r_name" -> StringType),
      (0 until 5).map(i => Row(i, s"REGION$i")))
    dups
  }
}
