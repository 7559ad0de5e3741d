package perfbench

import graft.sinks.ManifestTable
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import scala.collection.mutable
import scala.util.Random

/** A versioned manifest table under a mix of writes (API DML, SQL DML
  * through the catalog, and streaming micro-batches through the manifest
  * sink) and reads (latest, pruned, change feed, time travel) on seeded
  * rows. Every pass starts from a fresh table holding the same base rows,
  * and every read is checked against an in-driver model of the sequence. */
final class ManifestRw extends Workload {
  val baseRows = 2000
  val groups = 20
  private type Rec = (Long, Int, Long, String)

  private var dir = ""
  private var base: IndexedSeq[Rec] = _
  private var passNo = 0
  private var path = ""
  private var table = ""
  /** Model snapshot per committed version of the current pass's table. */
  private val model = mutable.Map.empty[Long, Map[Long, Rec]]
  /** (read name, expected rows, rows read), checked after the pass. */
  private val reads = mutable.ArrayBuffer.empty[(String, Rows, Rows)]
  /** Every write kind and every read kind once, in a fixed order and on
    * fixed groups, keys and key ranges, so every seed does the same work
    * (which files a write touches decides its plan); the seed picks the
    * row values. */
  private val ops = IndexedSeq("append", "read", "merge", "deleteWhere",
    "readPruned", "updateWhere", "deleteKeys", "readChanges", "sql_update",
    "sql_delete", "stream", "readVersion", "sql_merge")
  /** Rows the streaming writer lands, one file per micro-batch. */
  private var streamFiles: IndexedSeq[IndexedSeq[Rec]] = _
  val streamBatches = 3
  val streamRows = 40

  def inputs: Map[String, Any] = Map("base_rows" -> baseRows,
    "groups" -> groups, "ops_per_pass" -> ops.size,
    "stream_batches" -> streamBatches, "rows_per_stream_batch" -> streamRows)

  private val schema = StructType(Seq(StructField("doc_id", LongType),
    StructField("grp", IntegerType), StructField("val", LongType),
    StructField("s", StringType)))
  private var spark: org.apache.spark.sql.SparkSession = _
  private def frame(rs: Seq[Rec]): DataFrame = spark.createDataFrame(
    java.util.Arrays.asList(rs.map(r => Row(r._1, r._2, r._3, r._4)): _*), schema)
  private def rec(id: Long, r: Random): Rec =
    (id, (id % groups).toInt, r.nextInt(1000).toLong, Gen.words(r, 1, 3))

  def setup(ctx: Ctx, d: String): Unit = {
    spark = ctx.spark
    dir = d
    val r = new Random(ctx.seed)
    base = (0 until baseRows).map(i => rec(i.toLong, r))
    streamFiles = (0 until streamBatches).map(f => (0 until streamRows).map(i =>
      rec(1000000L + f * streamRows + i, r)))
    freshTable()
  }

  private def freshTable(): Unit = {
    passNo += 1
    path = s"$dir/t$passNo"
    table = s"g.db.t$passNo"
    ManifestTable.append(spark, frame(base), path, statsCols = Seq("doc_id"))
    spark.sql("CREATE NAMESPACE IF NOT EXISTS g.db")
    spark.sql(s"CREATE TABLE $table USING `graft-manifest` LOCATION '$path'")
    model.clear()
    model(ManifestTable.latestVersion(spark, path).get) =
      base.map(r => r._1 -> r).toMap
  }

  def warmup(ctx: Ctx): Unit = { pass(ctx); ctx.rec.ops.clear() }

  override def prepare(ctx: Ctx): Unit = if (model.size > 1) freshTable()

  private def latest = model.keys.max

  /** `n` keys spread evenly over the live keys, starting at `offset`. */
  private def spaced(keys: IndexedSeq[Long], n: Int, offset: Int): IndexedSeq[Long] =
    (0 until n).map(i => keys((offset + i * keys.size / n) % keys.size))

  private def write(ctx: Ctx, kind: String, r: Random): Unit = {
    val cur = model(latest)
    val span = if (kind.startsWith("sql_")) "catalog.sql_dml" else kind match {
      case "append" => "sinks.ManifestTable.append"
      case k => s"sinks.ManifestDml.$k"
    }
    val keys = cur.keys.toIndexedSeq.sorted
    val next: Map[Long, Rec] = kind match {
      case "append" =>
        val fresh = (0 until 100).map(i => rec(keys.last + 1 + i, r))
        ctx.rec.op("write", span, kind)(_ =>
          ManifestTable.append(spark, frame(fresh), path, statsCols = Seq("doc_id")))
        cur ++ fresh.map(x => x._1 -> x)
      case "merge" | "sql_merge" =>
        val upd = spaced(keys, 25, if (kind == "merge") 5 else 9).map(rec(_, r)) ++
          (0 until 25).map(i => rec(keys.last + 1 + i, r))
        if (kind == "merge")
          ctx.rec.op("write", span, kind)(_ => ManifestTable.merge(spark,
            frame(upd), path, "doc_id", statsCols = Seq("doc_id")))
        else {
          frame(upd).createOrReplaceTempView("perfbench_updates")
          ctx.rec.op("write", span, "MERGE")(_ => spark.sql(
            s"""MERGE INTO $table t USING perfbench_updates u
               |ON t.doc_id = u.doc_id
               |WHEN MATCHED THEN UPDATE SET *
               |WHEN NOT MATCHED THEN INSERT *""".stripMargin))
        }
        cur ++ upd.map(x => x._1 -> x)
      case "deleteWhere" =>
        val g = 3
        ctx.rec.op("write", span, kind)(_ =>
          ManifestTable.deleteWhere(spark, path, col("grp") === g))
        cur.filter(_._2._2 != g)
      case "updateWhere" =>
        val g = 7
        ctx.rec.op("write", span, kind)(_ => ManifestTable.updateWhere(spark,
          path, col("grp") === g, Nil, Seq("val" -> (col("val") + 1))))
        cur.map { case (k, x) => k -> (if (x._2 == g) x.copy(_3 = x._3 + 1) else x) }
      case "deleteKeys" =>
        val ks = spaced(keys, 30, 2)
        ctx.rec.op("write", span, kind)(_ => ManifestTable.deleteKeys(spark,
          spark.createDataFrame(java.util.Arrays.asList(ks.map(Row(_)): _*),
            StructType(Seq(StructField("doc_id", LongType)))), path, "doc_id"))
        cur -- ks
      case "sql_update" =>
        val (lo, hi) = (400L, 600L)
        ctx.rec.op("write", span, "UPDATE")(_ => spark.sql(
          s"UPDATE $table SET val = val + 10 WHERE doc_id BETWEEN $lo AND $hi"))
        cur.map { case (k, x) =>
          k -> (if (k >= lo && k <= hi) x.copy(_3 = x._3 + 10) else x) }
      case "sql_delete" =>
        val (lo, hi) = (1200L, 1300L)
        ctx.rec.op("write", span, "DELETE")(_ => spark.sql(
          s"DELETE FROM $table WHERE doc_id BETWEEN $lo AND $hi"))
        cur.filter { case (k, _) => k < lo || k > hi }
    }
    val v = ManifestTable.latestVersion(spark, path).get
    if (v != latest) model(v) = next
  }

  /** Land one JSON file per micro-batch and drain them through the
    * manifest sink; every committed batch is one model version. */
  private def stream(ctx: Ctx): Unit = {
    val land = s"$path.landing"
    new java.io.File(land).mkdirs()
    val t0 = System.currentTimeMillis() - 60000L
    for ((rows, i) <- streamFiles.zipWithIndex) {
      val f = new java.io.File(f"$land/part-$i%03d.json")
      val w = new java.io.PrintWriter(f, "UTF-8")
      try rows.foreach { case (k, g, v, t) =>
        w.println(s"""{"doc_id":$k,"grp":$g,"val":$v,"s":"$t"}""") }
      finally w.close()
      f.setLastModified(t0 + i * 1000L) // the source takes files oldest first
    }
    val q = ctx.rec.span("streaming.manifestSinkWriter") { _ =>
      val q = graft.streaming.Streams.manifestSinkWriter(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
          .json(land),
        path, s"$path.checkpoint", statsCols = Seq("doc_id"))
        .queryName("streaming.manifestSinkWriter")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      q
    }
    q.exception.foreach(e => throw e)
    for (p <- q.recentProgress if p.numInputRows > 0)
      ctx.rec.ops += Op("write", "streaming.manifestSinkWriter",
        s"batch${p.batchId}", 0.0, p.durationMs.get("triggerExecution").toDouble,
        ok = true)
    var v = latest
    for (rows <- streamFiles) {
      model(v + 1) = model(v) ++ rows.map(x => x._1 -> x)
      v += 1
    }
    ctx.check("stream commits one version per batch",
      ManifestTable.latestVersion(spark, path).contains(v),
      s"latest ${ManifestTable.latestVersion(spark, path)}, expected $v")
  }

  private type Rows = Seq[List[Any]]
  private def rows(df: DataFrame): Rows = df.collect().toSeq.map(_.toSeq.toList)
  private def asRows(m: Map[Long, Rec]): Rows =
    m.values.toSeq.map(x => List(x._1, x._2, x._3, x._4))
  private def sortRows(xs: Rows): Seq[String] = xs.map(_.toString).sorted

  private def read(ctx: Ctx, kind: String, r: Random): Unit = {
    val vs = model.keys.toIndexedSeq.sorted
    var s: Span = null
    var got: Rows = Nil
    var df: DataFrame = null
    val expect: Rows = kind match {
      case "read" =>
        ctx.rec.op("read", "sinks.ManifestTable.read", kind) { sp =>
          s = sp; df = ManifestTable.read(spark, path); ctx.rec.built(sp)
          got = rows(df)
        }
        asRows(model(latest))
      case "readPruned" =>
        val (lo, hi) = (800L, 950L)
        ctx.rec.op("read", "sinks.ManifestTable.readPruned", kind) { sp =>
          s = sp; df = ManifestTable.readPruned(spark, path, "doc_id", lo, hi)
          ctx.rec.built(sp)
          got = rows(df.filter(col("doc_id").between(lo, hi)))
        }
        asRows(model(latest).filter { case (k, _) => k >= lo && k <= hi })
      case "readVersion" =>
        val v = vs(math.max(0, vs.size - 3))
        ctx.rec.op("read", "sinks.ManifestTable.readVersion", kind) { sp =>
          s = sp; df = ManifestTable.readVersion(spark, path, v)
          ctx.rec.built(sp)
          got = rows(df)
        }
        asRows(model(v))
      case "readChanges" =>
        val since = vs(math.max(0, vs.size - 4)); val until = latest
        ctx.rec.op("read", "sinks.ManifestTable.readChanges", kind) { sp =>
          s = sp; df = ManifestTable.readChanges(spark, path, since, until)
          ctx.rec.built(sp)
          got = rows(df.select("doc_id", "grp", "val", "s", "_change_type",
            "_commit_version"))
        }
        changes(vs.filter(v => v > since && v <= until))
    }
    reads += ((kind, expect, got))
    if (s != null && df != null) {
      // share of the current snapshot's files this read opened
      ctx.rec.attr(s, "files_read", df.inputFiles.length)
      ctx.rec.attr(s, "files_total",
        ManifestTable.read(spark, path).inputFiles.length)
    }
  }

  /** Expected change feed: per version step, rows gained as inserts and
    * rows lost as deletes. */
  private def changes(steps: Seq[Long]): Rows = {
    val vs = model.keys.toIndexedSeq.sorted
    steps.flatMap { v =>
      val prev = asRows(model(vs(vs.indexOf(v) - 1)))
      val now = asRows(model(v))
      now.diff(prev).map(_ ++ List("insert", v)) ++
        prev.diff(now).map(_ ++ List("delete", v))
    }
  }

  def pass(ctx: Ctx): Unit = {
    val r = new Random(ctx.seed + 11)
    for (k <- ops) k match {
      case "read" | "readPruned" | "readChanges" | "readVersion" => read(ctx, k, r)
      case "stream" => stream(ctx)
      case _ => write(ctx, k, r)
    }
  }

  def check(ctx: Ctx): Unit = {
    val failed = ctx.rec.ops.filterNot(_.ok).map(_.name).distinct
    ctx.check("every write and read succeeded", failed.isEmpty,
      failed.mkString(","))
    val bad = reads.filter { case (_, e, g) => sortRows(e) != sortRows(g) }
    ctx.check("reads match the model", bad.isEmpty,
      bad.map { case (k, e, g) =>
        val (es, gs) = (sortRows(e), sortRows(g))
        s"$k: ${es.size} expected, ${gs.size} read, e.g. missing " +
          s"${es.diff(gs).take(2).mkString(" ")} extra ${gs.diff(es).take(2).mkString(" ")}"
      }.mkString("; "))
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val bytes = fs.getContentSummary(new org.apache.hadoop.fs.Path(path)).getLength
    ctx.extras("bytes_per_row") = bytes.toDouble / model(latest).size
    ctx.check("final read matches the model",
      sortRows(rows(ManifestTable.read(spark, path))) == sortRows(asRows(model(latest))))
  }
}
