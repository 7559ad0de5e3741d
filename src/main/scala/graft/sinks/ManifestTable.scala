package graft.sinks

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructField, StructType}

/** A minimal manifest-backed table: versioned snapshots over immutable
  * data directories, with atomic commits by rename — the metadata
  * pattern behind every modern table format (Iceberg/Delta/Hudi),
  * reduced to the part a 100 TB pipeline cannot do without.
  *
  * Why a manifest at scale: a plain parquet directory makes EVERY scan
  * pay an O(files) recursive listing before planning starts — at
  * micro-batch append cadence that is millions of files, and on object
  * stores each LIST is a metered RPC. A manifest inverts the
  * dependency: the reader consults ONE small versioned file list (the
  * newest `manifest/v*` parquet, itself found by listing a
  * directory whose size is the snapshot count, bounded by [[vacuum]]),
  * and plans directly against the exact data directories of that
  * snapshot. Appends never rewrite data: each commit adds one
  * immutable data directory and a NEW manifest that is the old
  * list plus one entry (copy-on-write metadata, like Iceberg's).
  *
  * Guarantees (single writer, standard streaming-sink ownership — but
  * see the contract-violation blast radius below):
  *  - COMMIT IS ATOMIC: the manifest parquet is written fully to a
  *    `.tmp-` sibling and renamed into place; a reader lists either
  *    the old max version or the new one, never a partial commit. The
  *    snapshot schema and the table watermark ride INSIDE the renamed
  *    directory (`_graft_schema.json` / `_graft_maxtag`), so "rows of
  *    batch B are committed", "watermark says B", and "the schema is
  *    readable even from an all-empty snapshot" are one rename.
  *  - SNAPSHOT ISOLATION: data dirs are immutable and a resolved
  *    snapshot references only dirs that existed at its commit, so a
  *    reader holding version v sees exactly v's rows no matter how
  *    many appends/compactions land meanwhile. [[readVersion]] is
  *    time travel to any un-vacuumed snapshot.
  *  - CRASH SAFETY, AND BOUNDED CONTRACT-VIOLATION DAMAGE: every
  *    append attempt writes a UNIQUE data dir (`c%08d_<attempt>`), so
  *    a crashed attempt — or the LOSER of two writers racing the same
  *    version — leaves an orphan dir no manifest references,
  *    invisible to every reader and reaped by [[vacuum]]. The loser's
  *    manifest rename fails loudly (rename-if-absent); it can never
  *    reference, overwrite, or delete the winner's files, because no
  *    two attempts ever share a dir name (Iceberg's unique-filename
  *    practice). A crash mid-manifest-write leaves only a `.tmp-`
  *    dir, ignored by version listing and cleaned on the next commit.
  *  - [[compact]] is a METADATA swap: rewrite current content into
  *    one new data dir and commit a manifest pointing at it; older
  *    snapshots keep reading their original dirs until [[vacuum]]
  *    drops them (retention is an explicit choice, not a side effect).
  *  - PROVENANCE: every entry records the dirs it was rewritten from
  *    (empty for fresh appends), so [[readSince]] can tell a pure
  *    rewrite (compaction / delete of already-consumed data) from
  *    genuinely new rows — incremental consumers survive maintenance
  *    instead of re-reading the whole table.
  */
object ManifestTable extends ManifestStagingOps with ManifestDmlOps {

  private[sinks] def fsOf(spark: SparkSession, path: String)
      : (org.apache.hadoop.fs.FileSystem, org.apache.hadoop.fs.Path) = {
    val p = new org.apache.hadoop.fs.Path(path)
    (p.getFileSystem(spark.sessionState.newHadoopConf()), p)
  }

  private[sinks] def vName(v: Long): String = f"v$v%08d"

  /** A fresh, attempt-unique data dir name for version `v`. The
    * attempt suffix is what turns a violated single-writer contract
    * (or a crash) from silent snapshot corruption into a reapable
    * orphan: concurrent attempts at the same version can never write
    * into — or pre-delete — each other's directory. */
  private def attemptDirName(v: Long): String =
    f"c$v%08d_${java.util.UUID.randomUUID.toString.take(8)}"

  /** Committed snapshot versions at `path`, ascending (empty for a
    * fresh or absent table). */
  def versions(spark: SparkSession, path: String): Seq[Long] = {
    val (fs, _) = fsOf(spark, path)
    val m = new org.apache.hadoop.fs.Path(s"$path/manifest")
    if (!fs.exists(m)) Seq.empty
    else fs.listStatus(m).toSeq
      .map(_.getPath.getName)
      // parse by shape, not length: vName pads to 8 digits but grows
      // past them (version 1e8+ must stay visible or append clobbers
      // a committed snapshot and then deadlocks on the rename)
      .filter(n => n.length > 1 && n.startsWith("v") &&
        n.drop(1).forall(_.isDigit))
      .map(_.drop(1).toLong).sorted
  }

  def latestVersion(spark: SparkSession, path: String): Option[Long] =
    versions(spark, path).lastOption

  /** String bounds are only comparable across engines when every byte
    * is ASCII: Spark's min/max on strings uses UTF8String BINARY
    * ordering, while the JVM's `compareTo` here is UTF-16 code-unit
    * order — they agree on ASCII and can disagree beyond it, so a
    * non-ASCII bound never prunes (kept conservatively). */
  private def asciiOnly(s: String): Boolean = s.forall(_ < 0x80)

  /** One manifest entry: a data dir, the commit tag that added it
    * (streaming batch watermark; -1 for batch appends), per-column
    * min/max stats for dir-level pruning — long-castable columns in
    * `statMin`/`statMax`, string columns in `strMin`/`strMax`
    * (empty = no stats, never pruned) — the dirs this entry was
    * rewritten from (empty = fresh append — the provenance
    * [[readSince]] uses to see through maintenance), and the dir's
    * EXACT row count (`rows`, from the written files' parquet
    * footers) — what lets a whole-table `COUNT(*)` answer from the
    * manifest alone ([[graft.plans.ManifestMetadataAggs]]); None
    * (pre-upgrade entry) disables that rewrite, never correctness.
    *
    * `dv` is the dir's PENDING DELETION VECTORS (merge-on-read
    * equality deletes, [[deleteKeys]]): tombstone dir name (under
    * `<table>/deletes/`) -> the key column its keys delete on. A
    * reader of this dir must anti-join each tombstone's key set
    * before surfacing rows; [[rewriteDeletes]]/[[compact]]/rewrites
    * materialize and clear them. While `dv` is non-empty the dir's
    * recorded `rows`/`nullCnt`/bounds describe the PHYSICAL file
    * content — still valid one-sided for pruning (deletes only
    * shrink), but no longer exact, so metadata-only aggregates stand
    * down ([[graft.plans.ManifestMetadataAggs]] gates on it).
    *
    * `partition` maps each partition FIELD of the table's
    * [[PartitionTransform]] spec to this dir's single derived value
    * (nulls as [[PartitionTransform.NullValue]]) — present only when
    * the dir is PARTITION-PURE (every row derives the same value per
    * field, true by construction for partitioned appends and for
    * row-subset rewrites of pure dirs). An empty map on a dir with
    * data means "partition unknown": reads stay exact (they
    * re-derive and filter), but [[dropPartitions]] refuses until
    * [[repartitionTable]] restores purity — conservative metadata,
    * never a guess. */
  final case class Entry(dir: String, tag: Long,
      statMin: Map[String, Long], statMax: Map[String, Long],
      sources: Seq[String],
      strMin: Map[String, String] = Map.empty,
      strMax: Map[String, String] = Map.empty,
      bloom: Map[String, Array[Byte]] = Map.empty,
      files: Option[Map[String, Long]] = None,
      strBloom: Map[String, Array[Byte]] = Map.empty,
      rows: Option[Long] = None,
      nullCnt: Map[String, Long] = Map.empty,
      dv: Map[String, String] = Map.empty,
      partition: Map[String, String] = Map.empty,
      sums: Map[String, String] = Map.empty) {
    /** Whether the dir holds any data files — answered from the
      * manifest's recorded file list when present (zero filesystem
      * calls: `Some(empty)` is a file-less empty-batch dir,
      * `Some(nonEmpty)` has data), falling back to ONE listing only
      * for entries committed before file lists were recorded. This is
      * the Iceberg move: the manifest records the files at commit
      * time, so no later consumer ever pays a data-tree RPC to
      * answer a planning question. */
    def hasData(fs: org.apache.hadoop.fs.FileSystem,
        dirPath: String): Boolean = files match {
      case Some(m) => m.nonEmpty
      case None => hasDataFiles(fs, dirPath)
    }
    /** Point-lookup check against this dir's per-column Bloom filter
      * (recorded at append time for `bloomCols`): false ONLY when the
      * filter proves no row of the dir holds `v` in `col` — the prune
      * min/max cannot make on an interleaved key, where every dir's
      * range spans the whole domain. No filter -> conservatively
      * true. One-sided like every stat here: false positives cost a
      * wasted dir read, false negatives are impossible. */
    def mightContainPoint(col: String, v: Long): Boolean =
      bloom.get(col).forall(b =>
        org.apache.spark.util.sketch.BloomFilter.readFrom(
          new java.io.ByteArrayInputStream(b)).mightContainLong(v))

    /** STRING-keyed twin of [[mightContainPoint]] — probes the
      * separately-recorded string filters (`strBloom`). The two maps
      * are kept apart deliberately: a string filter holds UTF-8-byte
      * insertions and a long probe against it would return arbitrary
      * bits — a FALSE NEGATIVE, the one failure a stats layer must
      * never have. Keeping the types in disjoint maps makes a
      * cross-typed probe conservatively true instead. No ASCII guard
      * needed: membership hashing is order-free, unlike min/max. */
    def mightContainPointStr(col: String, v: String): Boolean =
      strBloom.get(col).forall(b =>
        org.apache.spark.util.sketch.BloomFilter.readFrom(
          new java.io.ByteArrayInputStream(b)).mightContainString(v))

    /** Stats say this dir MIGHT hold rows with `col` in `[lo, hi]`
      * (no stats on `col` -> conservatively true). */
    def mightOverlap(col: String, lo: Long, hi: Long): Boolean =
      (statMin.get(col), statMax.get(col)) match {
        case (Some(mn), Some(mx)) => mx >= lo && mn <= hi
        case _ => true
      }
    /** String-bounds overlap with possibly-open ends (None = that end
      * unconstrained). Each comparison only prunes when BOTH strings
      * involved are ASCII (see [[asciiOnly]]); a non-ASCII bound on
      * either side keeps the dir. */
    def mightOverlapStr(col: String, lo: Option[String],
        hi: Option[String]): Boolean =
      (strMin.get(col), strMax.get(col)) match {
        case (Some(mn), Some(mx)) if asciiOnly(mn) && asciiOnly(mx) =>
          lo.filter(asciiOnly).forall(l => mx.compareTo(l) >= 0) &&
            hi.filter(asciiOnly).forall(h => mn.compareTo(h) <= 0)
        case _ => true
      }

    /** Closed-range form of [[mightOverlapStr]]. */
    def mightOverlapStr(col: String, lo: String, hi: String): Boolean =
      mightOverlapStr(col, Some(lo), Some(hi))

    /** Null-count pruning, the `IS NOT NULL` side: false ONLY when
      * the recorded null count proves EVERY row of this dir is null
      * in `col` (nullCnt == rows — which also covers a zero-row dir)
      * — then no row can satisfy `col IS NOT NULL`, nor any value
      * predicate, since Catalyst conjoins an IsNotNull guard onto
      * every pushed value filter: an all-null dir is pruned even when
      * min/max and Bloom stats are absent for it (an all-null column
      * records no bounds). Missing counts -> conservatively true. */
    def mightHaveNonNull(col: String): Boolean =
      !rows.exists(r => nullCnt.get(col).contains(r))

    /** The `IS NULL` side: false ONLY when the recorded null count
      * proves NO row of this dir is null in `col` (nullCnt == 0).
      * Missing count -> conservatively true. One-sided like every
      * stat here: a wrong prune is impossible, a missing one only
      * costs a dir read. */
    def mightHaveNull(col: String): Boolean =
      !nullCnt.get(col).contains(0L)
  }

  private[graft] def entriesOf(spark: SparkSession, path: String,
      v: Long): Seq[Entry] =
    entriesAt(spark, s"$path/manifest/${vName(v)}")

  /** One manifest parquet's entry list, serialized by
    * [[writeEntriesParquet]] — shared by committed snapshots
    * (`manifest/v*`) and WAP staged sets (`staged/<name>`). */
  private[sinks] def entriesAt(spark: SparkSession, dir: String): Seq[Entry] = {
    import spark.implicits._
    val df = spark.read.parquet(dir)
    if (df.columns.contains("sources")) {
      // map-stats layout; columns ADDED after a manifest was written
      // (provenance, string stats, file lists) default to empty/None —
      // a table never breaks on upgrade, its next commit writes the
      // full layout
      val defaults = Seq(
        "strMin" -> "map<string,string>",
        "strMax" -> "map<string,string>",
        "bloom" -> "map<string,binary>",
        "files" -> "map<string,bigint>",
        "strBloom" -> "map<string,binary>",
        "rows" -> "bigint",
        "nullCnt" -> "map<string,bigint>",
        "dv" -> "map<string,string>",
        "partition" -> "map<string,string>",
        "sums" -> "map<string,string>")
      val full = defaults.foldLeft(df) { case (d, (c, tpe)) =>
        if (d.columns.contains(c)) d
        else d.withColumn(c, lit(null).cast(tpe))
      }
      full.select("dir", "tag", "statMin", "statMax", "sources",
          "strMin", "strMax", "bloom", "files", "strBloom", "rows",
          "nullCnt", "dv", "partition", "sums")
        .as[(String, Long, Map[String, Long], Map[String, Long],
          Seq[String], Map[String, String], Map[String, String],
          Map[String, Array[Byte]], Map[String, Long],
          Map[String, Array[Byte]], Option[Long], Map[String, Long],
          Map[String, String], Map[String, String],
          Map[String, String])]
        .collect().sortBy(_._1)
        .map(t => Entry(t._1, t._2, Option(t._3).getOrElse(Map.empty),
          Option(t._4).getOrElse(Map.empty),
          Option(t._5).getOrElse(Seq.empty),
          Option(t._6).getOrElse(Map.empty),
          Option(t._7).getOrElse(Map.empty),
          Option(t._8).getOrElse(Map.empty),
          // null (pre-upgrade) stays None = "unknown, fall back to a
          // listing"; an EMPTY recorded map is authoritative
          Option(t._9),
          Option(t._10).getOrElse(Map.empty),
          rows = t._11,
          nullCnt = Option(t._12).getOrElse(Map.empty),
          dv = Option(t._13).getOrElse(Map.empty),
          partition = Option(t._14).getOrElse(Map.empty),
          sums = Option(t._15).getOrElse(Map.empty))).toSeq
    } else {
      // MIGRATION read for manifests written before the map-stats
      // layout (single optional statCol + long min/max, no
      // provenance): a long-lived table survives the upgrade — its
      // next commit rewrites the manifest in the current layout
      df.select("dir", "tag", "statCol", "statMin", "statMax")
        .as[(String, Long, Option[String], Option[Long], Option[Long])]
        .collect().sortBy(_._1)
        .map { t =>
          val stats = for (c <- t._3; mn <- t._4; mx <- t._5)
            yield (Map(c -> mn), Map(c -> mx))
          Entry(t._1, t._2, stats.map(_._1).getOrElse(Map.empty),
            stats.map(_._2).getOrElse(Map.empty), Seq.empty)
        }.toSeq
    }
  }

  /** The one entry-list serialization ([[entriesAt]] is its read) —
    * a single small parquet, used by every commit and by WAP staged
    * sets. */
  private[sinks] def writeEntriesParquet(spark: SparkSession,
      entries: Seq[Entry], dest: String): Unit = {
    import spark.implicits._
    entries.map(e => (e.dir, e.tag, e.statMin, e.statMax, e.sources,
        e.strMin, e.strMax, e.bloom, e.files, e.strBloom, e.rows,
        e.nullCnt, e.dv, e.partition, e.sums))
      .toDF("dir", "tag", "statMin", "statMax", "sources",
        "strMin", "strMax", "bloom", "files", "strBloom", "rows",
        "nullCnt", "dv", "partition", "sums")
      .repartition(1)
      .write.mode("overwrite").parquet(dest)
  }

  /** The data directories snapshot `v` references (absolute paths). */
  private def dirsOf(spark: SparkSession, path: String,
      v: Long): Seq[String] =
    entriesOf(spark, path, v).map(e => s"$path/data/${e.dir}")

  /** Counts every data-directory listing the manifest code issues —
    * the probe the zero-listing planning pin measures. On a modern
    * table (file lists recorded in every entry) a full
    * plan-prune-scan cycle through the SQL source must not move this
    * counter: planning is manifest-only, like Iceberg's. */
  private[graft] val dataListings =
    new java.util.concurrent.atomic.AtomicLong()

  private[graft] def hasDataFiles(fs: org.apache.hadoop.fs.FileSystem,
      dir: String): Boolean = {
    dataListings.incrementAndGet()
    val p = new org.apache.hadoop.fs.Path(dir)
    fs.exists(p) && fs.listStatus(p).exists { st =>
      val n = st.getPath.getName
      !n.startsWith("_") && !n.startsWith(".")
    }
  }

  /** The (name -> size) data-file list of one written dir — recorded
    * into its [[Entry]] at commit time, so every later consumer
    * (planning, emptiness checks, scan file lists) answers from the
    * manifest instead of paying a per-dir metadata RPC. One listing
    * at write time, against a dir this writer just created. */
  private[graft] def listDataFilesOf(fs: org.apache.hadoop.fs.FileSystem,
      dir: String): Map[String, Long] = {
    dataListings.incrementAndGet()
    val p = new org.apache.hadoop.fs.Path(dir)
    if (!fs.exists(p)) Map.empty
    else fs.listStatus(p).iterator.filter { st =>
      val n = st.getPath.getName
      st.isFile && !n.startsWith("_") && !n.startsWith(".")
    }.map(st => st.getPath.getName -> st.getLen).toMap
  }

  // ---- per-version sidecar metadata (rides the atomic rename) ------

  private[sinks] def readSideFile(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): Option[String] =
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(new String(
        org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8"))
      finally in.close()
    }

  private[sinks] def writeSideFile(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path, body: String): Unit = {
    val out = fs.create(p, true)
    try out.write(body.getBytes("UTF-8")) finally out.close()
  }

  /** The snapshot schema persisted at commit time — what makes a
    * legitimately EMPTY snapshot (all rows deleted, or only
    * empty-batch commits) readable as an empty frame instead of a
    * schema-inference crash. */
  // ---- column identity: stable FIELD IDS + logical rename/drop ----
  //
  // Iceberg's contract, expressed through Spark's native parquet
  // field-id matching: every column carries a stable id
  // (`graft.id` metadata in the schema sidecar, assigned at commit
  // and never reused), every written data file stamps that id into
  // its parquet footer (`parquet.field.id`), and once a table is
  // MAPPED (its first rename/drop committed the `_graft_colmap`
  // sidecar) its reads attach the ids to the read schema so the
  // parquet reader resolves columns BY ID — a renamed column keeps
  // reading its old files, a dropped-then-re-added name never
  // resurrects the dropped column's bytes (new name, new id).
  // Unmapped tables keep reading by name, so no pre-existing
  // behavior changes until the user actually renames or drops.

  private[graft] val FieldIdKey = "graft.id"
  private val ParquetIdKey = "parquet.field.id"

  private[graft] def fieldIdOf(f: StructField): Option[Long] =
    if (f.metadata.contains(FieldIdKey))
      Some(f.metadata.getLong(FieldIdKey)) else None

  /** Every assigned field id, keyed by DOTTED path (nested leaves
    * included) — the shape the append retry's divergence check and
    * the colmap watermark fold over. */
  private[sinks] def allFieldIds(s: StructType,
      prefix: String = ""): Map[String, Long] =
    s.fields.flatMap { f =>
      val p = if (prefix.isEmpty) f.name else s"$prefix.${f.name}"
      fieldIdOf(f).map(p -> _).toMap ++ (f.dataType match {
        case st: StructType => allFieldIds(st, p)
        case _ => Map.empty[String, Long]
      })
    }.toMap

  /** The highest id assigned anywhere in the schema (0 if none). */
  private def maxFieldId(s: StructType): Long =
    allFieldIds(s).values.foldLeft(0L)(math.max)

  /** The schema to PERSIST: existing ids preserved, fresh fields
    * assigned above both the live maximum and `floor` (the colmap
    * high watermark — a dropped column's id must never be reused, or
    * its bytes would resurrect under the new column). Assignment is
    * RECURSIVE — every struct field at every depth gets an id
    * (Iceberg's ids are per-leaf for exactly this reason: a nested
    * rename/drop needs the leaf addressable in old files) — and
    * deterministic in depth-first field order, so the writer's
    * pre-commit assignment and the commit's own always agree. Array
    * elements and map entries stay unmapped: they are not
    * addressable by this DDL surface. */
  private[graft] def withFieldIds(schema: StructType,
      floor: Long): StructType = {
    def maxIdOf(dt: DataType): Long = dt match {
      case s: StructType => s.fields.map(f => math.max(
        fieldIdOf(f).getOrElse(0L), maxIdOf(f.dataType)))
        .foldLeft(0L)(math.max)
      case _ => 0L
    }
    var next = math.max(floor, maxIdOf(schema)) + 1
    def assign(s: StructType): StructType = StructType(s.fields.map { f =>
      val withId =
        if (fieldIdOf(f).isDefined) f
        else {
          val md = new org.apache.spark.sql.types.MetadataBuilder()
            .withMetadata(f.metadata).putLong(FieldIdKey, next).build()
          next += 1
          f.copy(metadata = md)
        }
      withId.dataType match {
        case st: StructType => withId.copy(dataType = assign(st))
        case _ => withId
      }
    })
    assign(schema)
  }

  /** The `_graft_colmap` sidecar at snapshot `v`: (mapped, id high
    * watermark, retired names). Absent (every table until its first
    * rename/drop) = (false, 0, none). Carried forward by [[commit]]
    * like the partition spec once present.
    *
    * RETIRED names — names a renamed/dropped column left behind in
    * committed data files — can never be reused by a different
    * column: Spark's parquet row-group FILTER PUSHDOWN matches
    * columns by NAME even when column resolution matches by field
    * id, so a same-named new column would have its pushed filters
    * evaluated against the dead column's statistics (empirically: an
    * IS NULL filter on a re-added name skips every old row group).
    * Iceberg avoids this with its own reader; on vanilla Spark the
    * honest contract is to refuse the reuse loudly. */
  private[graft] def colmapOf(spark: SparkSession, path: String,
      v: Long): (Boolean, Long, Seq[String]) = {
    val (fs, _) = fsOf(spark, path)
    readSideFile(fs, new org.apache.hadoop.fs.Path(
      s"$path/manifest/${vName(v)}/_graft_colmap")) match {
      case None => (false, 0L, Nil)
      case Some(body) =>
        val kv = body.linesIterator.map(_.split("=", 2)).collect {
          case Array(k, x) => k -> x.trim }.toMap
        (kv.get("mapped").exists(_.toBoolean),
          kv.get("maxId").map(_.toLong).getOrElse(0L),
          kv.get("retired").map(_.split(',').map(_.trim)
            .filter(_.nonEmpty).toSeq).getOrElse(Nil))
    }
  }

  private def colmapBody(mapped: Boolean, maxId: Long,
      retired: Seq[String]): String =
    s"mapped=$mapped\nmaxId=$maxId\n" +
      s"retired=${retired.distinct.sorted.mkString(",")}\n"

  /** Loud when a write/evolution tries to reuse a retired name —
    * path-overlap-aware: re-adding top-level `meta` clashes with a
    * retired `meta.n` too (old files still carry that nested name,
    * and parquet row-group pushdown matches nested paths by name). */
  private[sinks] def refuseRetired(spark: SparkSession, path: String,
      prev: Long, names: Seq[String], ctx: String): Unit = {
    if (names.isEmpty) return
    val retired = colmapOf(spark, path, prev)._3
    val clash = names.filter(n => retired.exists(r => pathOverlaps(r, n)))
    require(clash.isEmpty,
      s"$ctx: column name(s) ${clash.mkString("'", "', '", "'")} " +
        "were RETIRED by an earlier rename/drop — old data files " +
        "still carry that name under a different field id, and " +
        "parquet filter pushdown matches by name, so reusing it " +
        "would corrupt row-group pruning; pick a different name")
  }

  /** Run `body` with `spark.sql.parquet.fieldId.write.enabled`
    * forced on, restoring the caller's setting after: graft writes
    * must stamp ids whatever the session says, WITHOUT leaving the
    * session mutated for unrelated parquet writes. Scoping works for
    * writes because every graft write is EAGER inside its operation;
    * the READ flag cannot be scoped the same way (mapped-table frames
    * are returned lazily and resolve ids at scan execution — see
    * [[readIdSchema]]). A concurrent restore can at worst flip the
    * flag off mid-write, which the rename/drop stamping gate
    * ([[requireAllFilesStamped]]) catches loudly — never silently. */
  private def withIdWriteConf[T](spark: SparkSession)(body: => T): T = {
    val k = "spark.sql.parquet.fieldId.write.enabled"
    val old = spark.conf.getOption(k)
    spark.conf.set(k, "true")
    try body
    finally old match {
      case Some(v) => spark.conf.set(k, v)
      case None => spark.conf.unset(k)
    }
  }

  /** `graft.id` metadata translated to `parquet.field.id`,
    * RECURSIVELY (struct leaves included), on a deep-nullable copy —
    * the shape [[stampIds]] hands `Dataset.to` and [[readIdSchema]]
    * hands the reader. */
  private def parquetIdSchema(s: StructType): StructType =
    StructType(deepNullable(s).asInstanceOf[StructType].fields.map { f =>
      val dt = f.dataType match {
        case st: StructType => parquetIdSchema(st)
        case other => other
      }
      val md = fieldIdOf(f) match {
        case Some(id) => new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(f.metadata).putLong(ParquetIdKey, id).build()
        case None => f.metadata
      }
      f.copy(dataType = dt, metadata = md)
    })

  /** Stamp `parquet.field.id` onto a frame about to be WRITTEN, from
    * the sidecar schema's `graft.id`s — every data file then carries
    * the ids a later rename/drop needs, NESTED fields included: the
    * top-level id rides an alias's explicitMetadata (the one route
    * the optimizer provably preserves to the write boundary) and
    * nested ids ride the column's DATATYPE via the zero-cost
    * [[graft.expressions.TypeTagged]] pass-through (the parquet
    * writer derives nested ids from the output attribute's type).
    * No ids in the schema (a table that has never committed under
    * this code) = identity. Staging bookkeeping columns the table
    * schema does not know (the rewrite's source tag) pass through
    * untouched; a batch that OMITS table columns stamps only what it
    * carries. The write itself must run under [[withIdWriteConf]]
    * (the writer funnels do) or the metadata stamped here is
    * silently dropped. */
  private[sinks] def stampIds(spark: SparkSession, df: DataFrame,
      schema: StructType): DataFrame = {
    def hasIds(s: StructType): Boolean = s.fields.exists(f =>
      fieldIdOf(f).isDefined || (f.dataType match {
        case st: StructType => hasIds(st)
        case _ => false
      }))
    if (!hasIds(schema)) df
    else {
      val byName = parquetIdSchema(schema).fields
        .map(f => f.name -> f).toMap
      df.select(df.schema.fields.map { f =>
        byName.get(f.name) match {
          case Some(tf) =>
            val base = tf.dataType match {
              case st: StructType
                  if f.dataType.isInstanceOf[StructType] =>
                org.apache.spark.sql.GraftSqlBridge.column(
                  graft.expressions.TypeTagged(
                    org.apache.spark.sql.GraftSqlBridge
                      .expression(col(f.name)), st))
              case _ => col(f.name)
            }
            base.as(f.name, tf.metadata)
          case None => col(f.name)
        }
      }.toIndexedSeq: _*)
    }
  }

  /** The schema to READ data dirs with at snapshot `v`: on a MAPPED
    * snapshot, `graft.id` materializes as `parquet.field.id` and the
    * session's id-read is enabled, so the reader matches columns by
    * id (renames transparent, drops never resurrect). Unmapped
    * snapshots read by name exactly as before — their schemas carry
    * no parquet ids, so the global conf cannot affect them.
    *
    * The READ flag deliberately stays session-scoped (unlike the
    * write flag, [[withIdWriteConf]]): mapped-table frames are
    * returned LAZILY and Spark's parquet reader consults the session
    * conf at scan execution, not per-relation options — a
    * save-and-restore here would break every frame consumed after
    * this call returns. The flag is additive: it only changes reads
    * whose READ SCHEMA carries explicit `parquet.field.id` metadata,
    * which plain reads (inferred or user schemas without that
    * metadata) never do. */
  /** The read boundary's nullability contract: data dirs are read
    * with a DEEP-NULLABLE schema whatever the sidecar says. The
    * sidecar may record a nested field non-nullable (batch encoders
    * do), but a LATER dir can legally carry an all-null parent
    * struct (compatibleSchema is nullability-insensitive by design)
    * — and Spark's vectorized reader, given a non-nullable nested
    * read schema over such a file, NPEs in codegen instead of
    * surfacing nulls. Spark's own file relations read as nullable
    * for exactly this reason. Metadata (field ids) carries through
    * untouched. */
  private[sinks] def deepNullable(dt: DataType): DataType = dt match {
    case s: StructType => StructType(s.fields.map(f =>
      f.copy(dataType = deepNullable(f.dataType), nullable = true)))
    case a: org.apache.spark.sql.types.ArrayType =>
      a.copy(elementType = deepNullable(a.elementType),
        containsNull = true)
    case m: org.apache.spark.sql.types.MapType =>
      m.copy(valueType = deepNullable(m.valueType),
        valueContainsNull = true)
    case other => other
  }

  private def readIdSchema(spark: SparkSession, path: String, v: Long,
      schema: StructType): StructType =
    if (!colmapOf(spark, path, v)._1)
      deepNullable(schema).asInstanceOf[StructType]
    else {
      spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
      // parquet ids ride the read schema RECURSIVELY — a renamed
      // nested leaf resolves by id inside its struct exactly like a
      // top-level column does
      parquetIdSchema(schema)
    }

  /** Public twin of [[readIdSchema]] for the SQL relation builder. */
  private[graft] def readSchemaFor(spark: SparkSession, path: String,
      v: Long, schema: StructType): StructType =
    readIdSchema(spark, path, v, schema)

  /** The rename/drop GATE: every live data dir's files must carry
    * parquet field ids (one footer read per dir — dirs are the
    * manifest's unit, typically hundreds, never the file count).
    * Files written by this code version always do; a table carrying
    * older dirs must rewrite them first. */
  private def requireAllFilesStamped(spark: SparkSession, path: String,
      entries: Seq[Entry], op: String,
      targetPath: Seq[String]): Unit = {
    val (fs, _) = fsOf(spark, path)
    val conf = spark.sessionState.newHadoopConf()
    // what a by-id read of the RENAMED/DROPPED path actually needs
    // from an old file: an id on every field along the path's chain
    // (top-level ancestor, each intermediate group, the leaf).
    // Siblings resolve by their unchanged names, and a file that
    // PREDATES the field entirely reads null without any id — both
    // are fine unstamped.
    def unstampedAlong(grp: org.apache.parquet.schema.GroupType,
        parts: List[String]): Boolean = parts match {
      case Nil => false
      case p :: rest =>
        grp.containsField(p) && {
          val t = grp.getType(p)
          t.getId == null ||
            (rest.nonEmpty && (!t.isInstanceOf[
                org.apache.parquet.schema.GroupType] ||
              unstampedAlong(t.asGroupType(), rest)))
        }
    }
    val unstamped = entries.filter { e =>
      e.hasData(fs, s"$path/data/${e.dir}") && {
        val fname = e.files.map(_.keys.min).getOrElse(
          listDataFilesOf(fs, s"$path/data/${e.dir}").keys.min)
        val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new org.apache.hadoop.fs.Path(
              s"$path/data/${e.dir}/$fname"), conf))
        try unstampedAlong(rd.getFileMetaData.getSchema,
          targetPath.toList)
        finally rd.close()
      }
    }
    require(unstamped.isEmpty,
      s"ManifestTable.$op($path): ${unstamped.size} data dir(s) " +
        "predate field-id stamping on " +
        s"'${targetPath.mkString(".")}' (e.g. " +
        unstamped.take(3).map(_.dir).mkString(", ") + ") — a " +
        "rename/drop needs every file to carry parquet field ids so " +
        "old files keep resolving by id; rewrite the table first " +
        "(commit once if the table predates ids, then " +
        "CALL <cat>.system.cluster(...) or compact), then retry")
  }

  /** Column PATHS an expression's SQL references, dotted (the
    * constraint refusal probe — `meta.n < 5` yields "meta.n"). */
  private def referencedCols(spark: SparkSession, sql: String)
      : Set[String] =
    spark.sessionState.sqlParser.parseExpression(sql).collect {
      case u: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
        u.nameParts.mkString(".")
    }.toSet

  /** `a` overlaps `b` when either addresses the other or a node
    * under it — the refusal test for constraints/retirement against
    * a dotted DDL target. */
  private def pathOverlaps(a: String, b: String): Boolean =
    a == b || a.startsWith(b + ".") || b.startsWith(a + ".")

  /** Transform the field at a DOTTED path: `f => Some(f')` reshapes
    * it in place, `f => None` drops it. Loud when the path does not
    * resolve through structs. */
  private def reshapeAt(s: StructType, parts: List[String], op: String)
      (f: StructField => Option[StructField]): StructType = parts match {
    case p :: rest =>
      require(s.fieldNames.contains(p),
        s"ManifestTable.$op: no field '$p' " +
          s"(have: ${s.fieldNames.mkString(", ")})")
      StructType(s.fields.flatMap { fld =>
        if (fld.name != p) Some(fld)
        else if (rest.isEmpty) f(fld)
        else fld.dataType match {
          case st: StructType =>
            Some(fld.copy(dataType = reshapeAt(st, rest, op)(f)))
          case other => sys.error(
            s"ManifestTable.$op: '$p' is ${other.catalogString}, " +
              "not a struct — cannot address a field under it")
        }
      })
    case Nil => sys.error(s"ManifestTable.$op: empty column path")
  }

  /** Shared validation + commit of the two METADATA-ONLY column ops.
    * `targetCol` may be a DOTTED nested path (`meta.n`); `newPath` is
    * Some(full new dotted path) for a rename, None for a drop. The
    * reshaped schema is derived from the ID-CARRYING current schema;
    * entries are untouched (zero data movement) — the whole change
    * is one sidecar commit, exactly Iceberg's. */
  private def columnMapCommit(spark: SparkSession, path: String,
      op: String, targetCol: String,
      reshape: StructType => StructType,
      newPath: Option[String]): Long = {
    val prev = latestVersion(spark, path).getOrElse(
      sys.error(s"ManifestTable.$op: no committed version at $path"))
    val entries = entriesOf(spark, path, prev)
    val schema = tableSchema(spark, path, prev, entries)
    require(nestedTypeOf(schema, targetCol).isDefined,
      s"ManifestTable.$op: no column '$targetCol' in the table " +
        s"schema (${schema.fieldNames.mkString(", ")})")
    val pSrcs = partitionSpecOf(spark, path, prev).map(_.src)
    require(!pSrcs.contains(targetCol),
      s"ManifestTable.$op: '$targetCol' is a partition-source " +
        "column — the partition spec is immutable table identity; " +
        "rewrite into a new table to change it")
    val cs = constraintsOf(spark, path, prev)
    // conservative path-overlap: a constraint on `meta.n` blocks
    // renaming `meta` (the whole subtree) and `meta.n`
    val refs = cs.filter(c => referencedCols(spark, c._2)
      .exists(r => pathOverlaps(r, targetCol)))
    require(refs.isEmpty,
      s"ManifestTable.$op: CHECK constraint(s) " +
        refs.map(_._1).mkString("'", "', '", "'") +
        s" reference '$targetCol' — drop the constraint first " +
        "(dropConstraint), then retry")
    require(!entries.exists(_.dv.values.toSeq.contains(targetCol)),
      s"ManifestTable.$op: pending deletion vectors key on " +
        s"'$targetCol' — materialize them first " +
        "(CALL <cat>.system.rewrite_deletes), then retry")
    val (_, floor, retired0) = colmapOf(spark, path, prev)
    // a rename's TARGET must not be (or live under) a retired name
    newPath.foreach(to =>
      require(!retired0.exists(r => pathOverlaps(r, to)),
        s"ManifestTable.$op: '$to' was retired by an earlier " +
          "rename/drop — old files still carry that name under a " +
          "different field id; pick a different name"))
    val withIds = withFieldIds(schema, floor)
    requireAllFilesStamped(spark, path, entries, op,
      targetCol.split('.').toSeq)
    val newSchema = reshape(withIds)
    val maxId = math.max(floor, maxFieldId(withIds))
    // per-entry stats are keyed by DOTTED column path: a rename
    // REKEYS the path and everything under it (the values are the
    // same column's — old dirs keep pruning), a drop SCRUBS them (a
    // later column reusing the name must never inherit the dead
    // column's stats — its values in old dirs are null, and e.g. a
    // zero recorded null count would false-prune an IS NULL query)
    def rekeyPath(k: String): Option[String] =
      if (!pathOverlaps(k, targetCol)) Some(k)
      else if (k == targetCol) newPath
      else if (k.startsWith(targetCol + "."))
        newPath.map(_ + k.drop(targetCol.length))
      else Some(k) // k is an ANCESTOR of the target: key unaffected
    def rekey[A](m: Map[String, A]): Map[String, A] =
      m.flatMap { case (k, x) => rekeyPath(k).map(_ -> x) }
    val newEntries = entries.map(e => e.copy(
      statMin = rekey(e.statMin), statMax = rekey(e.statMax),
      strMin = rekey(e.strMin), strMax = rekey(e.strMax),
      bloom = rekey(e.bloom), strBloom = rekey(e.strBloom),
      nullCnt = rekey(e.nullCnt), sums = rekey(e.sums)))
    val (st, bl) = pruningOf(spark, path, prev)
    val prevTag = maxTagOf(spark, path, prev).getOrElse(
      entries.map(_.tag).foldLeft(-1L)(math.max))
    val v = prev + 1
    commit(spark, path, v, newEntries, newSchema, prevTag,
      (st.flatMap(rekeyPath), bl.flatMap(rekeyPath)),
      cs, op = op,
      colmapBodyOpt = Some(colmapBody(mapped = true, maxId,
        retired0 :+ targetCol)))
    v
  }

  /** RENAME a column — one metadata commit, zero data movement: the
    * logical name changes, the field id stays, and every read (old
    * dirs included) resolves the column by id. `from` may be a
    * DOTTED nested path (`meta.n`): the leaf renames INSIDE its
    * struct, old files resolving it by the nested field id. Refused
    * for partition-source columns, constraint-referenced columns,
    * and pending-dv key columns (each names the column in metadata
    * this commit does not rewrite); refused until every live dir's
    * files carry field ids along the path
    * (see [[requireAllFilesStamped]]). */
  def renameColumn(spark: SparkSession, path: String, from: String,
      to: String): Long = {
    require(to.nonEmpty && !to.contains('.') && !to.startsWith("_graft_"),
      s"ManifestTable.renameColumn: invalid target name '$to'")
    val parts = from.split('.').toList
    val toPath = (parts.init :+ to).mkString(".")
    columnMapCommit(spark, path, "renameColumn", from,
      s => {
        require(nestedTypeOf(s, toPath).isEmpty,
          s"ManifestTable.renameColumn: column '$toPath' already exists")
        reshapeAt(s, parts, "renameColumn")(f => Some(f.copy(name = to)))
      },
      Some(toPath))
  }

  /** DROP a column — one metadata commit: the field leaves the
    * logical schema (old files keep its bytes; no read ever surfaces
    * them again, because a later column re-using the NAME gets a new
    * id). `name` may be a DOTTED nested path. Same refusals and
    * stamping gate as [[renameColumn]]. */
  def dropColumn(spark: SparkSession, path: String,
      name: String): Long = {
    val parts = name.split('.').toList
    columnMapCommit(spark, path, "dropColumn", name,
      s => {
        val out = reshapeAt(s, parts, "dropColumn")(_ => None)
        def noEmpty(st: StructType): Unit = {
          require(st.fields.nonEmpty,
            "ManifestTable.dropColumn: cannot drop the only column " +
              "of its struct level — drop the enclosing struct (or " +
              "table) instead")
          st.fields.foreach(_.dataType match {
            case x: StructType => noEmpty(x)
            case _ => ()
          })
        }
        noEmpty(out)
        out
      },
      None)
  }

  /** ADD a NESTED column — a new nullable leaf inside an existing
    * struct — as ONE metadata commit, zero data movement: old files
    * simply lack the field and every read fills it with null
    * (parquet evolution-on-read works inside structs exactly like at
    * the top level — probed empirically, ManifestColumnMapSpec pins
    * it). The leaf gets a fresh field id at the commit boundary, so
    * a LATER rename/drop of it resolves by id in post-add files.
    *
    * Stricter than top-level evolution in one deliberate way:
    * batches written AFTER the add must carry the struct's NEW shape
    * (project the new field, null where unknown) — the write
    * boundary's exact-struct-type rule is what keeps a typo'd batch
    * from silently forking a nested schema, and weakening it to
    * subset-tolerance would lose that. */
  def addNestedColumn(spark: SparkSession, path: String,
      parent: String, name: String, dt: DataType): Long = {
    require(name.nonEmpty && !name.contains('.') &&
      !name.startsWith("_graft_"),
      s"ManifestTable.addNestedColumn: invalid field name '$name'")
    val prev = latestVersion(spark, path).getOrElse(
      sys.error(s"ManifestTable.addNestedColumn: no committed " +
        s"version at $path"))
    val entries = entriesOf(spark, path, prev)
    val schema = tableSchema(spark, path, prev, entries)
    val full = s"$parent.$name"
    require(nestedTypeOf(schema, parent).exists(
        _.isInstanceOf[StructType]),
      s"ManifestTable.addNestedColumn: '$parent' is not a struct " +
        s"column of the table (${schema.fieldNames.mkString(", ")})")
    require(nestedTypeOf(schema, full).isEmpty,
      s"ManifestTable.addNestedColumn: '$full' already exists")
    refuseRetired(spark, path, prev, Seq(full),
      s"ManifestTable.addNestedColumn($path)")
    val newSchema = reshapeAt(schema, parent.split('.').toList,
      "addNestedColumn") { f =>
      val st = f.dataType.asInstanceOf[StructType]
      Some(f.copy(dataType =
        StructType(st.fields :+ StructField(name, dt, nullable = true))))
    }
    val (st, bl) = pruningOf(spark, path, prev)
    val prevTag = maxTagOf(spark, path, prev).getOrElse(
      entries.map(_.tag).foldLeft(-1L)(math.max))
    val v = prev + 1
    commit(spark, path, v, entries, newSchema, prevTag, (st, bl),
      constraintsOf(spark, path, prev), op = "addNestedColumn")
    v
  }

  /** WIDEN a column's type — `int -> bigint`, `float -> double` (any
    * [[widens]] step) — as ONE metadata commit, zero data movement:
    * old files keep their narrower PHYSICAL type and the scan widens
    * at read (Spark 4's parquet readers promote int32->int64 and
    * float->double natively, filters included — probed empirically,
    * ManifestWidenSpec pins it); writes after the commit carry the
    * widened physical type (the write boundary already casts
    * widenable batches to table types). Recorded stats stay VALID
    * as-is: integral min/max/sums are persisted as long/decimal
    * whatever the column's width, and integral Bloom filters hash
    * the LONG cast of every value ([[bloomsOf]]), so pre-widen dirs
    * keep pruning under post-widen long literals.
    *
    * Refused for:
    *  - anything but a value-preserving widening (narrowing or
    *    cross-family casts change values or semantics);
    *  - partition-SOURCE columns — partition derivation is
    *    type-dependent (Spark's Murmur3 hashes int 5 and long 5
    *    differently, so a bucket spec would divorce recorded values
    *    from post-widen derivations);
    *  - columns with PENDING deletion vectors — the tombstone files
    *    carry the old physical type; materialize first
    *    (rewrite_deletes), then retry. */
  def widenColumnType(spark: SparkSession, path: String, name: String,
      to: DataType): Long = {
    val prev = latestVersion(spark, path).getOrElse(
      sys.error(s"ManifestTable.widenColumnType: no committed " +
        s"version at $path"))
    val entries = entriesOf(spark, path, prev)
    val schema = tableSchema(spark, path, prev, entries)
    // `name` may be a DOTTED nested leaf ('meta.n') — resolved
    // through the one path walker, widened IN PLACE inside its
    // struct (field ids and sibling metadata untouched)
    val fromType = nestedTypeOf(schema, name).getOrElse(sys.error(
      s"ManifestTable.widenColumnType: no column '$name' in the " +
        s"table schema (${schema.fieldNames.mkString(", ")})"))
    require(fromType.catalogString != to.catalogString,
      s"ManifestTable.widenColumnType: '$name' already is " +
        s"${to.catalogString}")
    require(widens(fromType, to),
      s"ManifestTable.widenColumnType: ${fromType.catalogString} " +
        s"-> ${to.catalogString} is not a value-preserving widening " +
        "— supported: the integral chain (tinyint/smallint/int -> " +
        "bigint), float -> double, and decimal(p,s) -> decimal(p+k,s); " +
        "anything else changes values or semantics and belongs in an " +
        "explicit rewrite")
    val pSrcs = partitionSpecOf(spark, path, prev).map(_.src)
    require(!pSrcs.contains(name),
      s"ManifestTable.widenColumnType: '$name' is a partition-source " +
        "column — partition derivation is type-dependent (bucket " +
        "hashes int and long differently); rewrite into a new table " +
        "to change it")
    require(!entries.exists(_.dv.values.toSeq.contains(name)),
      s"ManifestTable.widenColumnType: pending deletion vectors key " +
        s"on '$name' — materialize them first " +
        "(CALL <cat>.system.rewrite_deletes), then retry")
    def widen(s: StructType, parts: List[String]): StructType =
      StructType(s.fields.map { x =>
        parts match {
          case p :: Nil if x.name == p => x.copy(dataType = to)
          case p :: rest if x.name == p => x.dataType match {
            case st: StructType => x.copy(dataType = widen(st, rest))
            case other => sys.error(
              s"ManifestTable.widenColumnType: '$name' descends " +
                s"through non-struct ${other.catalogString}")
          }
          case _ => x
        }
      })
    val newSchema = widen(schema, name.split('.').toList)
    val (st, bl) = pruningOf(spark, path, prev)
    val prevTag = maxTagOf(spark, path, prev).getOrElse(
      entries.map(_.tag).foldLeft(-1L)(math.max))
    val v = prev + 1
    commit(spark, path, v, entries, newSchema, prevTag, (st, bl),
      constraintsOf(spark, path, prev), op = "widenColumnType")
    v
  }

  def schemaOf(spark: SparkSession, path: String,
      v: Long): Option[StructType] = {
    val (fs, _) = fsOf(spark, path)
    readSideFile(fs, new org.apache.hadoop.fs.Path(
      s"$path/manifest/${vName(v)}/_graft_schema.json"))
      .map(DataType.fromJson(_).asInstanceOf[StructType])
  }

  private def maxTagOf(spark: SparkSession, path: String,
      v: Long): Option[Long] = {
    val (fs, _) = fsOf(spark, path)
    readSideFile(fs, new org.apache.hadoop.fs.Path(
      s"$path/manifest/${vName(v)}/_graft_maxtag")).map(_.trim.toLong)
  }

  /** The table's PRUNING DISCIPLINE — which columns get min/max stats
    * and which get Bloom filters on each commit — persisted as a
    * sidecar riding the atomic rename. Why table-level and not
    * derived from entries: an `INSERT OVERWRITE` or a full delete
    * leaves entries with empty stat maps (an empty dir records
    * nothing), and deriving the discipline from them would silently
    * erase it for the table's lifetime — every later SQL-ingested
    * commit would stop recording filters. Maintenance ops carry the
    * previous version's discipline forward. Returns (statsCols,
    * bloomCols); pre-sidecar versions fall back to the union of the
    * entries' recorded keys (correct whenever any data survives). */
  def pruningOf(spark: SparkSession, path: String,
      v: Long): (Seq[String], Seq[String]) = {
    val (fs, _) = fsOf(spark, path)
    readSideFile(fs, new org.apache.hadoop.fs.Path(
      s"$path/manifest/${vName(v)}/_graft_pruning")) match {
      case Some(body) =>
        val m = body.linesIterator.map(_.split("=", 2)).collect {
          case Array(k, vs) => k -> vs.split(",").filter(_.nonEmpty).toSeq
        }.toMap
        (m.getOrElse("stats", Nil), m.getOrElse("bloom", Nil))
      case None =>
        val entries = entriesOf(spark, path, v)
        (entries.flatMap(e => e.statMin.keys ++ e.strMin.keys).distinct,
          entries.flatMap(e => e.bloom.keys ++ e.strBloom.keys).distinct)
    }
  }

  private[sinks] def pruningBody(statsCols: Seq[String],
      bloomCols: Seq[String]): String =
    s"stats=${statsCols.distinct.mkString(",")}\n" +
      s"bloom=${bloomCols.distinct.mkString(",")}\n"

  /** The table's partition spec at snapshot `v` — the
    * [[PartitionTransform]] list persisted as a `_graft_partspec`
    * sidecar riding the atomic rename, set once at table creation
    * ([[append]] with `partitionSpec` on a fresh table) and carried
    * forward by every commit. Empty = an unpartitioned table. */
  def partitionSpecOf(spark: SparkSession, path: String,
      v: Long): Seq[PartitionTransform] = {
    val (fs, _) = fsOf(spark, path)
    readSideFile(fs, new org.apache.hadoop.fs.Path(
      s"$path/manifest/${vName(v)}/_graft_partspec"))
      .map(PartitionTransform.parseSpec).getOrElse(Nil)
  }

  /** The table's CHECK constraints at snapshot `v` — `(name, SQL
    * boolean expression)` pairs persisted as a sidecar riding the
    * atomic rename, enforced on every row-adding write ([[append]],
    * [[overwrite]], [[merge]]'s batch; the SQL INSERT path routes
    * through append). Like the pruning discipline they are
    * TABLE-level metadata carried forward by every commit, and like
    * every sidecar they are versioned: time travel shows exactly
    * which constraints each snapshot was written under. Absent
    * sidecar (pre-upgrade version, or none ever added) = no
    * constraints. */
  def constraintsOf(spark: SparkSession, path: String,
      v: Long): Seq[(String, String)] = {
    val (fs, _) = fsOf(spark, path)
    readSideFile(fs, new org.apache.hadoop.fs.Path(
      s"$path/manifest/${vName(v)}/_graft_constraints"))
      .map(_.linesIterator.map(_.split("\t", 2)).collect {
        case Array(n, e) => n -> e
      }.toSeq).getOrElse(Nil)
  }

  private def constraintsBody(cs: Seq[(String, String)]): String =
    cs.map { case (n, e) => s"$n\t$e" }.mkString("", "\n", "\n")

  /** Fail loudly when any row of `df` VIOLATES a CHECK constraint.
    * SQL CHECK semantics: only a FALSE evaluation violates — UNKNOWN
    * (null) passes, exactly like the standard and Delta's CHECK. One
    * aggregate job tests every constraint at once; the violating
    * example row is fetched only on the failure path. */
  private[sinks] def enforceConstraints(df: DataFrame,
      cs: Seq[(String, String)], where: String): Unit =
    if (cs.nonEmpty) {
      def violated(sql: String) = not(coalesce(expr(sql), lit(true)))
      val flags = cs.zipWithIndex.map { case ((_, sql), i) =>
        max(when(violated(sql), 1).otherwise(0)).as(s"c$i")
      }
      val r = df.agg(flags.head, flags.tail: _*).head()
      cs.zipWithIndex.foreach { case ((n, sql), i) =>
        if (!r.isNullAt(i) && r.getInt(i) == 1)
          throw new IllegalArgumentException(
            s"$where: CHECK constraint '$n' ($sql) violated, e.g. by " +
              s"row ${df.filter(violated(sql)).head()}")
      }
    }

  /** Add a named CHECK constraint: `check` is any BOOLEAN SQL
    * expression over the table's columns. The CURRENT content must
    * already satisfy it (validated here, one scan — the Delta `ALTER
    * TABLE ADD CONSTRAINT` contract), after which every row-adding
    * write enforces it at the write boundary, where a violation
    * costs one orphan dir and a loud error instead of a committed
    * contamination. Commits a new (data-identical) version carrying
    * the constraint; returns it. */
  def addConstraint(spark: SparkSession, path: String, name: String,
      check: String): Long = {
    require(name.nonEmpty && !name.exists(c => c == '\t' || c == '\n'),
      s"addConstraint: constraint name must be non-empty and free of " +
        s"tabs/newlines, got '$name'")
    require(!check.exists(_ == '\n'),
      "addConstraint: the check expression must be a single line")
    val prev = latestVersion(spark, path).getOrElse(sys.error(
      s"ManifestTable.addConstraint: no committed version at $path"))
    val existing = constraintsOf(spark, path, prev)
    require(!existing.exists(_._1 == name),
      s"ManifestTable.addConstraint: constraint '$name' already exists")
    val current = readVersion(spark, path, prev)
    val dt = current.select(expr(check)).schema.head.dataType
    require(dt == org.apache.spark.sql.types.BooleanType,
      s"ManifestTable.addConstraint: '$check' is ${dt.catalogString}, " +
        "not a boolean expression")
    enforceConstraints(current, Seq(name -> check),
      s"ManifestTable.addConstraint($path): existing content")
    val entries = entriesOf(spark, path, prev)
    val v = prev + 1
    commit(spark, path, v, entries,
      tableSchema(spark, path, prev, entries),
      prevTagOf(spark, path, Some(prev), entries),
      pruningOf(spark, path, prev), existing :+ (name -> check),
      op = "addConstraint")
    v
  }

  /** Drop a named CHECK constraint (fails if absent — a typo'd drop
    * that silently "succeeds" would leave the caller believing
    * enforcement ended). Commits a new version; returns it. */
  def dropConstraint(spark: SparkSession, path: String,
      name: String): Long = {
    val prev = latestVersion(spark, path).getOrElse(sys.error(
      s"ManifestTable.dropConstraint: no committed version at $path"))
    val existing = constraintsOf(spark, path, prev)
    require(existing.exists(_._1 == name),
      s"ManifestTable.dropConstraint: no constraint named '$name' " +
        s"(have: ${existing.map(_._1).mkString(", ")})")
    val entries = entriesOf(spark, path, prev)
    val v = prev + 1
    commit(spark, path, v, entries,
      tableSchema(spark, path, prev, entries),
      prevTagOf(spark, path, Some(prev), entries),
      pruningOf(spark, path, prev), existing.filterNot(_._1 == name),
      op = "dropConstraint")
    v
  }

  /** The full key=value record riding snapshot `v`'s commit —
    * op/ts always, plus any op-specific extras (e.g. [[publish]]'s
    * attempt id, the crash-window idempotence anchor). Empty for
    * versions committed before commit metadata existed. */
  private[graft] def commitKV(spark: SparkSession, path: String,
      v: Long): Map[String, String] = {
    val (fs, _) = fsOf(spark, path)
    readSideFile(fs, new org.apache.hadoop.fs.Path(
      s"$path/manifest/${vName(v)}/_graft_commit")).map { body =>
      body.linesIterator.map(_.split("=", 2)).collect {
        case Array(k, x) => k -> x }.toMap
    }.getOrElse(Map.empty)
  }

  /** The (operation, wall-clock millis) recorded with snapshot `v`'s
    * commit — None for versions committed before commit metadata
    * existed. */
  def commitInfoOf(spark: SparkSession, path: String,
      v: Long): Option[(String, Long)] = {
    val kv = commitKV(spark, path, v)
    for (o <- kv.get("op"); t <- kv.get("ts").flatMap(_.toLongOption))
      yield (o, t)
  }

  /** Every retained version's (version, monotonized commit millis,
    * recorded op) — the timestamp spine of [[history]] and
    * [[versionAtTimestamp]]. Raw wall-clock times can tie or step
    * backwards (racing writers, clock adjustment); like Delta's
    * history they are nudged forward (ts(v) > ts(prev)) so "the
    * table as of time T" is always ONE well-defined version. Versions
    * committed before commit metadata existed fall back to the
    * manifest dir's filesystem mtime. */
  private def commitTimeline(spark: SparkSession, path: String)
      : Seq[(Long, Long, Option[String])] = {
    val (fs, _) = fsOf(spark, path)
    var last = Long.MinValue
    versions(spark, path).map { v =>
      val info = commitInfoOf(spark, path, v)
      val raw = info.map(_._2).getOrElse(
        fs.getFileStatus(new org.apache.hadoop.fs.Path(
          s"$path/manifest/${vName(v)}")).getModificationTime)
      val ts = if (raw <= last) last + 1 else raw
      last = ts
      (v, ts, info.map(_._1))
    }
  }

  /** DESCRIBE HISTORY: one row per RETAINED snapshot ([[vacuum]]
    * prunes history exactly like it prunes time travel) — version,
    * monotonized commit time, operation, and dir/file/row counts
    * resolved from the manifest alone (zero data-tree calls; file and
    * row counts are null when any entry predates the recorded-
    * metadata upgrade, never guessed; `num_rows` counts PHYSICAL
    * rows — on a snapshot with pending deletion vectors it reads
    * high by the tombstoned rows until [[rewriteDeletes]]
    * materializes them). Metadata-sized by construction: one row per
    * retained version. */
  def history(spark: SparkSession, path: String): DataFrame = {
    import org.apache.spark.sql.types._
    val rows: Seq[org.apache.spark.sql.Row] =
      commitTimeline(spark, path).map { case (v, ts, opName) =>
        val entries = entriesOf(spark, path, v)
        val nFiles = entries.foldLeft(Option(0L)) { (acc, e) =>
          for (a <- acc; f <- e.files) yield a + f.size }
        val nRows = entries.foldLeft(Option(0L)) { (acc, e) =>
          for (a <- acc; r <- e.rows) yield a + r }
        // the operator's rewriteDeletes trigger: distinct pending
        // tombstones at this snapshot (0 = metadata exact, no read tax)
        val nDv = entries.flatMap(_.dv.keys).distinct.size.toLong
        org.apache.spark.sql.Row(v, new java.sql.Timestamp(ts),
          opName.orNull, entries.size.toLong,
          nFiles.map(Long.box).orNull, nRows.map(Long.box).orNull, nDv)
      }
    val schema = StructType(Seq(
      StructField("version", LongType, nullable = false),
      StructField("timestamp", TimestampType, nullable = false),
      StructField("operation", StringType, nullable = true),
      StructField("num_dirs", LongType, nullable = false),
      StructField("num_files", LongType, nullable = true),
      StructField("num_rows", LongType, nullable = true),
      StructField("num_pending_dv", LongType, nullable = false)))
    spark.createDataFrame(
      scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava, schema)
  }

  /** One-row DESCRIBE DETAIL: the table's current shape, resolved
    * from metadata alone (zero data reads) — the operator's first
    * question ("what IS this table?") answered in one call. Null
    * file/row counts mean a pre-upgrade entry disqualified the exact
    * fold, never a guess; `num_rows` counts physical rows (high by
    * the pending tombstones until a rewrite materializes them,
    * `num_pending_dv` says whether). */
  def detail(spark: SparkSession, path: String): DataFrame = {
    import org.apache.spark.sql.types._
    val v = latestVersion(spark, path).getOrElse(sys.error(
      s"ManifestTable.detail: no committed version at $path"))
    val entries = entriesOf(spark, path, v)
    val nFiles = entries.foldLeft(Option(0L)) { (acc, e) =>
      for (a <- acc; f <- e.files) yield a + f.size }
    val nBytes = entries.foldLeft(Option(0L)) { (acc, e) =>
      for (a <- acc; f <- e.files) yield a + f.values.sum }
    val nRows = entries.foldLeft(Option(0L)) { (acc, e) =>
      for (a <- acc; r <- e.rows) yield a + r }
    val (statsCols, bloomCols) = pruningOf(spark, path, v)
    val row = org.apache.spark.sql.Row(
      "graft-manifest", path, v,
      versions(spark, path).size.toLong,
      entries.size.toLong,
      nFiles.map(Long.box).orNull,
      nBytes.map(Long.box).orNull,
      nRows.map(Long.box).orNull,
      entries.flatMap(_.dv.keys).distinct.size.toLong,
      partitionSpecOf(spark, path, v).map(_.render),
      statsCols, bloomCols,
      constraintsOf(spark, path, v).map(_._1),
      tags(spark, path).keys.toSeq.sorted,
      stagedNames(spark, path),
      branchNames(spark, path),
      // the stuck-auditor surfacer: per-branch staged commit/row
      // counts + oldest-staged-age (see branchDetail)
      branchDetail(spark, path).map { case (n, c, r, age) =>
        org.apache.spark.sql.Row(n, c, r.map(Long.box).orNull,
          age.map(Long.box).orNull)
      })
    val schema = StructType(Seq(
      StructField("format", StringType, nullable = false),
      StructField("location", StringType, nullable = false),
      StructField("version", LongType, nullable = false),
      StructField("num_versions_retained", LongType, nullable = false),
      StructField("num_dirs", LongType, nullable = false),
      StructField("num_files", LongType, nullable = true),
      StructField("size_bytes", LongType, nullable = true),
      StructField("num_rows", LongType, nullable = true),
      StructField("num_pending_dv", LongType, nullable = false),
      StructField("partition_spec",
        ArrayType(StringType, containsNull = false), nullable = false),
      StructField("stats_cols",
        ArrayType(StringType, containsNull = false), nullable = false),
      StructField("bloom_cols",
        ArrayType(StringType, containsNull = false), nullable = false),
      StructField("constraints",
        ArrayType(StringType, containsNull = false), nullable = false),
      StructField("tags",
        ArrayType(StringType, containsNull = false), nullable = false),
      StructField("staged",
        ArrayType(StringType, containsNull = false), nullable = false),
      StructField("branches",
        ArrayType(StringType, containsNull = false), nullable = false),
      StructField("branch_detail", ArrayType(StructType(Seq(
        StructField("name", StringType, nullable = false),
        StructField("staged_commits", LongType, nullable = false),
        StructField("staged_rows", LongType, nullable = true),
        StructField("oldest_staged_age_ms", LongType, nullable = true))),
        containsNull = false), nullable = false)))
    spark.createDataFrame(
      scala.jdk.CollectionConverters.SeqHasAsJava(Seq(row)).asJava,
      schema)
  }

  /** The snapshot a reader "as of" wall-clock `tsMillis` sees: the
    * LATEST retained version whose monotonized commit time is <=
    * `tsMillis` (Delta's TIMESTAMP AS OF rule). Loud when `tsMillis`
    * predates the oldest retained commit — the version that WAS
    * current then may have been vacuumed, and answering with a
    * younger snapshot would be silently wrong. */
  def versionAtTimestamp(spark: SparkSession, path: String,
      tsMillis: Long): Long = {
    val tl = commitTimeline(spark, path)
    require(tl.nonEmpty,
      s"ManifestTable.versionAtTimestamp: no committed version at $path")
    val at = tl.filter(_._2 <= tsMillis)
    require(at.nonEmpty,
      s"ManifestTable.versionAtTimestamp($path): $tsMillis predates " +
        s"the oldest retained commit (${tl.head._2} = " +
        s"${vName(tl.head._1)}) — the version current then may have " +
        "been vacuumed; time travel reaches only retained versions")
    at.last._1
  }

  /** [[readVersion]] addressed by wall-clock time instead of version
    * number — `TIMESTAMP AS OF` for callers that know WHEN, not
    * WHICH (incident forensics: "what did the table look like before
    * the bad deploy landed?"). */
  def readTimestampAsOf(spark: SparkSession, path: String,
      tsMillis: Long): DataFrame =
    readVersion(spark, path, versionAtTimestamp(spark, path, tsMillis))

  /** The ONE read path for a dir selection: skips file-less dirs
    * (empty-batch commits write dirs Spark cannot infer a schema
    * from), and when the selection is empty (or all file-less)
    * returns an empty frame with the snapshot's PERSISTED schema —
    * so an emptied table reads as zero rows, like every real table
    * format, rather than crashing an incremental consumer. Shared by
    * [[readVersion]], [[readPruned]], and [[readSince]] so the
    * empty/file-less edge cases have exactly one implementation. */
  /** Apply a dir group's pending deletion vectors to its frame: one
    * broadcast anti-join per tombstone (tombstones are update-batch
    * sized by the [[deleteKeys]] contract — the whole point of
    * merge-on-read is that the delete side is tiny next to the data).
    * A row whose key is NULL never matches an anti-join probe and
    * survives, exactly like SQL `NOT IN` on a non-null key set. */
  private[graft] def applyDeletes(spark: SparkSession, path: String,
      df: DataFrame, dv: Map[String, String]): DataFrame =
    dv.toSeq.sortBy(_._1).foldLeft(df) { case (d, (tomb, kc)) =>
      d.join(
        broadcast(spark.read.parquet(s"$path/deletes/$tomb").select(col(kc))),
        Seq(kc), "left_anti")
    }

  /** The current content of `readable` dirs under `schema`, pending
    * deletion vectors applied — the ONE frame every REWRITE op
    * (compact, cluster) must read from: a raw `spark.read.parquet`
    * over dv-carrying dirs would resurrect deleted rows into the
    * rewritten output. Dirs group by tombstone set; clean groups read
    * plain. */
  private[sinks] def readableFrame(spark: SparkSession, path: String,
      schema: StructType, readable: Seq[Entry]): DataFrame = {
    // rewrite ops always read the CURRENT snapshot — id-match its
    // schema when the table is mapped (renamed columns keep reading
    // their old files)
    val rs = latestVersion(spark, path)
      .map(v => readIdSchema(spark, path, v, schema)).getOrElse(schema)
    readable.groupBy(_.dv).toSeq.sortBy(_._2.head.dir)
      .map { case (dv, es) =>
        applyDeletes(spark, path, spark.read.schema(rs)
          .parquet(es.map(e => s"$path/data/${e.dir}"): _*), dv)
      }.reduce(_ unionByName _)
  }

  private def readDirs(spark: SparkSession, path: String, v: Long,
      snapshot: Seq[Entry], selected: Seq[Entry]): DataFrame = {
    val (fs, _) = fsOf(spark, path)
    val withData = selected.filter(e => e.hasData(fs, s"$path/data/${e.dir}"))
    val sel = withData.map(e => s"$path/data/${e.dir}")
    // read with the snapshot's PERSISTED schema when available: dirs
    // written before an additive schema evolution lack the new
    // columns, and an explicit schema makes the parquet reader fill
    // them with null (the standard evolution-on-read) — while also
    // skipping the per-file footer schema merge a bare read pays
    if (withData.exists(_.dv.nonEmpty)) {
      // merge-on-read: dirs group by their pending-tombstone SET and
      // each group anti-joins its tombstones before the union — the
      // per-dir scoping that keeps a key re-inserted AFTER a delete
      // alive (its fresh dir carries no tombstone), while dirs the
      // delete never touched provably lack the keys (pruning is
      // one-sided). deleteKeys guarantees a schema sidecar exists on
      // any table that carries dvs.
      val schema = schemaOf(spark, path, v).getOrElse(sys.error(
        s"ManifestTable: pending deletion vectors at $path ${vName(v)} " +
          "but no schema sidecar — corrupt manifest"))
      val rs = readIdSchema(spark, path, v, schema)
      withData.groupBy(_.dv).toSeq.sortBy(_._2.head.dir)
        .map { case (dv, es) =>
          applyDeletes(spark, path, spark.read.schema(rs)
            .parquet(es.map(e => s"$path/data/${e.dir}"): _*), dv)
        }.reduce(_ unionByName _)
    }
    else if (sel.nonEmpty) schemaOf(spark, path, v) match {
      case Some(schema) => spark.read
        .schema(readIdSchema(spark, path, v, schema)).parquet(sel: _*)
      case None => spark.read.parquet(sel: _*)
    }
    else schemaOf(spark, path, v) match {
      case Some(schema) =>
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      case None => // pre-sidecar manifest: derive from any readable dir
        val any = snapshot
          .find(e => e.hasData(fs, s"$path/data/${e.dir}"))
          .map(e => s"$path/data/${e.dir}")
          .getOrElse(sys.error(
            s"ManifestTable: no readable data files at $path — cannot " +
              "derive a schema for the (empty) result"))
        spark.read.parquet(any).limit(0)
    }
  }

  /** The snapshot schema of version `v`, from the persisted sidecar
    * (or, for pre-sidecar manifests, inferred from a readable dir). */
  private[sinks] def tableSchema(spark: SparkSession, path: String, v: Long,
      entries: Seq[Entry]): StructType =
    schemaOf(spark, path, v).getOrElse {
      val (fs, _) = fsOf(spark, path)
      val any = entries
        .find(e => e.hasData(fs, s"$path/data/${e.dir}"))
        .map(e => s"$path/data/${e.dir}")
        .getOrElse(sys.error(
          s"ManifestTable: no schema sidecar and no readable data at " +
            s"$path ${vName(v)}"))
      spark.read.parquet(any).schema
    }

  /** The table's exactly-once streaming watermark: the highest tag
    * ever committed, persisted table-level in the manifest sidecar so
    * it (a) rides the same atomic rename as the data it describes and
    * (b) stays MONOTONE across deletes — emptying the table does not
    * forget which batches were applied, so a replay after a
    * retention delete is still skipped. -1 for a fresh/untagged
    * table. */
  def latestTag(spark: SparkSession, path: String): Long =
    latestVersion(spark, path).map { v =>
      maxTagOf(spark, path, v).getOrElse(
        entriesOf(spark, path, v).map(_.tag).foldLeft(-1L)(math.max))
    }.getOrElse(-1L)

  /** The streaming WRITER that set the current tag watermark: the
    * newest retained commit recording a `tagWriter` — tags only RAISE
    * through the identity-carrying sinks (appendIfFresh / a branch
    * fast-forward), and every other commit merely carries the tag
    * forward, so the newest record is the watermark's author. None
    * for tables written by raw-API callers or pre-identity commits
    * (the enforcement stays opt-in for them). */
  private[graft] def tagWriterOf(spark: SparkSession,
      path: String): Option[String] =
    versions(spark, path).reverseIterator
      .map(v => commitKV(spark, path, v).get("tagWriter"))
      .collectFirst { case Some(w) => w }

  /** The mechanical form of the single-writer contract every
    * streaming sink documents: a batch that is about to be SKIPPED
    * as a replay, on a watermark some OTHER writer raised, is not a
    * replay — it is a second live streaming writer (or a rebuilt
    * checkpoint reusing low batchIds), and skipping it silently is
    * data loss. The same-writer skip (a genuine replay) stays quiet;
    * raw-API callers that pass no identity keep the legacy quiet
    * skip. */
  private[graft] def requireSameWriter(spark: SparkSession,
      path: String, batchId: Long, writerId: Option[String],
      watermarkWriter: => Option[String], op: String): Unit =
    writerId.foreach { me =>
      watermarkWriter.foreach { w =>
        require(w == me,
          s"ManifestTable.$op($path): batch $batchId is at or below " +
            s"the tag watermark, but the watermark was raised by a " +
            s"DIFFERENT streaming writer ('$w' vs this sink's '$me') " +
            "— this is not a replay: either two live streaming " +
            "writers share this table (the single-writer contract), " +
            "or this sink's checkpoint was rebuilt and reuses low " +
            "batchIds. Refusing to skip the batch silently; stop the " +
            "other writer or move this sink to a fresh checkpoint " +
            "whose batchIds exceed the watermark")
      }
    }

  /** The stats maps of one written dir: (longMin, longMax, strMin,
    * strMax, nullCnt, sums). Sums are EXACT per-dir totals of the
    * integral stat columns, computed in decimal(38,0) and recorded
    * as decimal STRINGS — a per-dir total can exceed Long range
    * without corrupting the record, and the metadata-agg fold adds
    * them back in arbitrary precision. */
  private type Stats = (Map[String, Long], Map[String, Long],
    Map[String, String], Map[String, String], Map[String, Long],
    Map[String, String])
  private val NoStats: Stats =
    (Map.empty, Map.empty, Map.empty, Map.empty, Map.empty, Map.empty)

  /** Resolve a (possibly DOTTED) stat-column path to its leaf type:
    * `a.b.c` walks nested StructTypes; a plain name is the trivial
    * one-segment walk, so every stats consumer handles top-level and
    * nested keys through the ONE resolver. `None` = absent (a batch
    * that omitted the column, or a path into a non-struct). The
    * convention is Spark's own unquoted-column-reference one: a dot
    * means nesting (a literal dot in a column name is not
    * addressable as a stat column — the write boundary's name rules
    * keep those out anyway). */
  private[graft] def nestedTypeOf(schema: StructType,
      path: String): Option[DataType] = {
    def walk(dt: DataType, parts: List[String]): Option[DataType] =
      (dt, parts) match {
        case (t, Nil) => Some(t)
        case (s: StructType, p :: rest) =>
          s.fields.find(_.name == p).flatMap(f => walk(f.dataType, rest))
        case _ => None
      }
    walk(schema, path.split('.').toList)
  }

  /** Stat-able type classes: strings get string bounds; INTEGRAL
    * types get exact long bounds. Everything else gets none —
    * deliberately. A fractional cast truncates (bounds could exclude
    * the true extremes), and a temporal cast's unit (seconds) would
    * disagree with the unit SQL pushes its literals in (micros), so a
    * recorded bound would prune dirs that contain matches — the one
    * failure mode a stats layer must never have. Callers with event
    * time should store it as an integral epoch column (this engine's
    * convention throughout). */
  private[sinks] def isIntegral(dt: org.apache.spark.sql.types.DataType): Boolean =
    dt match {
      case _: org.apache.spark.sql.types.ByteType => true
      case _: org.apache.spark.sql.types.ShortType => true
      case _: org.apache.spark.sql.types.IntegerType => true
      case _: org.apache.spark.sql.types.LongType => true
      case _ => false
    }

  /** EXACT row count of one written dir, read from its parquet file
    * FOOTERS (no Spark job, no data pages — the same numbers a
    * count(*) scan would sum, at metadata cost). Recorded into the
    * dir's [[Entry]] at commit/rewrite time so a whole-table COUNT —
    * and, with stats, MIN/MAX — can answer from the manifest alone
    * ([[graft.plans.ManifestMetadataAggs]]), the Iceberg/Delta
    * metadata-only-query shape: at 100 TB, `SELECT COUNT(*)` must not
    * be a table scan. A failed footer read records None — that dir's
    * table falls back to scanning, never miscounts. */
  private def rowsOf(spark: SparkSession, dir: String,
      files: Map[String, Long]): Option[Long] =
    if (files.isEmpty) Some(0L)
    else scala.util.Try {
      val conf = spark.sessionState.newHadoopConf()
      files.keysIterator.map { name =>
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new org.apache.hadoop.fs.Path(s"$dir/$name"), conf))
        try r.getRecordCount finally r.close()
      }.sum
    }.toOption

  /** Min/max of each `cols` column over the WRITTEN dir, not over
    * `df`: a second evaluation of an unpersisted frame could disagree
    * with what was written (source mutated between jobs,
    * non-deterministic column) and a too-narrow recorded range would
    * make pruned reads silently drop matching rows. The written dir
    * is immutable — its stats are the truth, for one cheap columnar
    * read of the batch-sized dir. String columns record string
    * bounds, integral columns long bounds (see [[isIntegral]] for why
    * nothing else qualifies); all-null, absent (a batch that omitted
    * the column), non-stat-able, or empty columns get no stats (never
    * pruned: conservative). EVERY requested column additionally
    * records its exact NULL COUNT — type-agnostic, and exact even for
    * a column this dir's files omit entirely (all rows read back
    * null) — which is what lets a whole-table `COUNT(col)` answer
    * from the manifest and lets MIN/MAX treat a provably-all-null dir
    * as contributing nothing instead of disqualifying
    * ([[graft.plans.ManifestMetadataAggs]]). */
  private def statsOf(spark: SparkSession, dir: String,
      cols: Seq[String]): Stats =
    if (cols.isEmpty) NoStats
    else scala.util.Try { // an empty batch writes a file-less dir
      val df = spark.read.parquet(dir)
      // nested paths resolve through the one path walker — `a.b.c`
      // records leaf min/max/nulls/sums exactly like a top-level
      // column (col("a.b.c") is Spark's own nested reference)
      def typeOf(c: String) = nestedTypeOf(df.schema, c)
      val inDf = cols.filter(c => typeOf(c).isDefined)
      val isStr = inDf.map(c => c ->
        typeOf(c).contains(org.apache.spark.sql.types.StringType))
        .toMap
      val bounded = inDf.filter(c =>
        isStr(c) || typeOf(c).exists(isIntegral))
      // integral stat columns also record an EXACT decimal(38,0) sum
      // (all-null dirs record none — SUM skips nulls, like the bounds)
      val summed = bounded.filterNot(isStr)
      val aggs = count(lit(1)) +: (inDf.map(c => count(col(c))) ++
        bounded.flatMap(c =>
          if (isStr(c)) Seq(min(col(c)), max(col(c)))
          else Seq(min(col(c).cast("long")), max(col(c).cast("long")))) ++
        summed.map(c => sum(col(c).cast("decimal(38,0)"))))
      val r = df.agg(aggs.head, aggs.tail: _*).head()
      val total = r.getLong(0)
      val nulls = inDf.zipWithIndex.map { case (c, i) =>
        c -> (total - r.getLong(1 + i))
      }.toMap ++ cols.filterNot(c => typeOf(c).isDefined)
        .map(c => c -> total)
      val base = 1 + inDf.size
      val sumBase = base + 2 * bounded.size
      val sums = summed.zipWithIndex.collect {
        case (c, j) if !r.isNullAt(sumBase + j) =>
          c -> r.getDecimal(sumBase + j).toBigInteger.toString
      }.toMap
      bounded.zipWithIndex.foldLeft(
        (Map.empty[String, Long], Map.empty[String, Long],
          Map.empty[String, String], Map.empty[String, String], nulls,
          sums)) {
        case (acc, (_, i)) if r.isNullAt(base + 2 * i) => acc
        case ((lm, lx, sm, sx, nc, sc), (c, i)) if isStr(c) =>
          (lm, lx, sm + (c -> r.getString(base + 2 * i)),
            sx + (c -> r.getString(base + 2 * i + 1)), nc, sc)
        case ((lm, lx, sm, sx, nc, sc), (c, i)) =>
          (lm + (c -> r.getLong(base + 2 * i)),
            lx + (c -> r.getLong(base + 2 * i + 1)), sm, sx, nc, sc)
      }
    }.getOrElse(NoStats)

  /** Grouped restat over a `partitionBy(srcCol)`-staged rewrite tree:
    * ONE Spark job computes every staged dir's min/max, null counts,
    * and exact row count (keyed by the partition value, stringified),
    * replacing the per-dir [[statsOf]] loop that cost one
    * driver-serialized job per rewritten dir — at k dirs hit, the
    * restat bill drops from k jobs to 1. Written-is-truth holds: the
    * staged files ARE the files promotion renames into place, so
    * these stats describe exactly the promoted content. Must run
    * BEFORE promotion (the staged tree is gone after). Same type
    * dispatch and conservative absences as [[statsOf]]. */
  private def statsBySrc(spark: SparkSession, staging: String,
      srcCol: String, cols: Seq[String]): Map[String, (Stats, Long)] =
    scala.util.Try {
      statsByKeys(spark.read.parquet(staging),
        Seq(col(srcCol).cast("string")), cols)
        .map { case (k, (st, n, _)) => k.head -> ((st, n)) }
    }.getOrElse(Map.empty)

  /** The grouped-restat core shared by [[statsBySrc]] (rewrites,
    * keyed by source dir) and the partitioned write path (keyed by
    * the derived partition values): ONE Spark job computes every
    * group's min/max, null counts, exact row count, and any `extras`
    * (stringified per-group MINs — the partitioned path recovers each
    * group's exact derived partition value this way, since a pure
    * group's min IS its one value). Null group keys surface as
    * [[PartitionTransform.NullValue]] so a key tuple is always
    * fully-populated strings; a null extra surfaces as None. */
  private def statsByKeys(df: DataFrame, keys: Seq[org.apache.spark.sql
      .Column], cols: Seq[String],
      extras: Seq[org.apache.spark.sql.Column] = Nil)
      : Map[Seq[String], (Stats, Long, Seq[Option[String]])] = {
    val nKeys = keys.size
    val nEx = extras.size
    // nested paths resolve exactly as in [[statsOf]]
    def typeOf(c: String) = nestedTypeOf(df.schema, c)
    val inDf = cols.filter(c => typeOf(c).isDefined)
    val isStr = inDf.map(c => c ->
      typeOf(c).contains(org.apache.spark.sql.types.StringType))
      .toMap
    val bounded = inDf.filter(c =>
      isStr(c) || typeOf(c).exists(isIntegral))
    // same exact per-group decimal sums as [[statsOf]]
    val summed = bounded.filterNot(isStr)
    val aggs = count(lit(1)) +:
      (extras.map(e => min(e.cast("string"))) ++
        inDf.map(c => count(col(c))) ++
        bounded.flatMap(c =>
          if (isStr(c)) Seq(min(col(c)), max(col(c)))
          else Seq(min(col(c).cast("long")), max(col(c).cast("long")))) ++
        summed.map(c => sum(col(c).cast("decimal(38,0)"))))
    val keyed = keys.zipWithIndex.map { case (k, i) =>
      coalesce(k, lit(PartitionTransform.NullValue)).as(s"__k$i")
    }
    df.groupBy(keyed: _*).agg(aggs.head, aggs.tail: _*)
      .collect().map { r =>
        val total = r.getLong(nKeys)
        val exVals = (0 until nEx).map(i =>
          if (r.isNullAt(nKeys + 1 + i)) None
          else Some(r.getString(nKeys + 1 + i)))
        val cBase = nKeys + 1 + nEx
        val nulls = inDf.zipWithIndex.map { case (c, i) =>
          c -> (total - r.getLong(cBase + i))
        }.toMap ++
          cols.filterNot(c => typeOf(c).isDefined).map(c => c -> total)
        val base = cBase + inDf.size
        val sumBase = base + 2 * bounded.size
        val sums = summed.zipWithIndex.collect {
          case (c, j) if !r.isNullAt(sumBase + j) =>
            c -> r.getDecimal(sumBase + j).toBigInteger.toString
        }.toMap
        val stats = bounded.zipWithIndex.foldLeft(
          (Map.empty[String, Long], Map.empty[String, Long],
            Map.empty[String, String], Map.empty[String, String],
            nulls, sums)) {
          case (acc, (_, i)) if r.isNullAt(base + 2 * i) => acc
          case ((lm, lx, sm, sx, nc, sc), (c, i)) if isStr(c) =>
            (lm, lx, sm + (c -> r.getString(base + 2 * i)),
              sx + (c -> r.getString(base + 2 * i + 1)), nc, sc)
          case ((lm, lx, sm, sx, nc, sc), (c, i)) =>
            (lm + (c -> r.getLong(base + 2 * i)),
              lx + (c -> r.getLong(base + 2 * i + 1)), sm, sx, nc, sc)
        }
        (0 until nKeys).map(r.getString).toSeq -> ((stats, total, exVals))
      }.toMap
  }

  /** The ONE staged-rewrite engine behind [[rewriteDeletes]] and
    * [[deleteRange]]: rewrite `targets` (entries with data files)
    * into fresh attempt-unique dirs with a BOUNDED number of Spark
    * jobs however many dirs are hit — one scan per tombstone group
    * (pending dvs applied, rows tagged with their source dir name
    * from the scan's own file path), `transform` applied, ONE
    * `partitionBy` staging write, ONE grouped restat
    * ([[statsBySrc]]), rename promotion. A target with no surviving
    * rows produces no entry (it drops out of the new manifest).
    * Produced entries carry single-dir provenance, the source's tag,
    * re-built Bloom filters for the source's bloom columns, and NO
    * dv (the rewrite materialized them). */
  private[sinks] def stagedRewrite(spark: SparkSession, path: String, v: Long,
      schema: StructType, targets: Seq[Entry], op: String,
      transform: DataFrame => DataFrame,
      extraRestatCols: Seq[String] = Nil): Seq[Entry] = {
    if (targets.isEmpty) return Seq.empty
    val (fs, _) = fsOf(spark, path)
    val srcCol = "_graft_src"
    require(!schema.fieldNames.contains(srcCol),
      s"ManifestTable.$op: column name '$srcCol' is reserved for " +
        "rewrite staging — rename the column")
    val staging = s"$path/data/.rw-${attemptDirName(v)}"
    // the source tag is the file's immediate PARENT DIR NAME — exact
    // by construction (every data file lives directly under its data
    // dir), evaluated in the scan stage, and broadcast anti-joins /
    // row filters keep rows in that stage, so one group scan serves
    // any number of target dirs
    // id-matched read on mapped tables (the targets belong to v-1's
    // snapshot); the rewritten files re-stamp the ids they'll need
    // for any LATER rename
    val rs = readIdSchema(spark, path, v - 1, schema)
    val tagged = targets.groupBy(_.dv).toSeq.sortBy(_._2.head.dir)
      .map { case (dv, es) =>
        val base = spark.read.schema(rs)
          .parquet(es.map(e => s"$path/data/${e.dir}"): _*)
          .withColumn(srcCol,
            element_at(split(input_file_name(), "/"), -2))
        transform(applyDeletes(spark, path, base, dv))
      }.reduce(_ unionByName _)
    spark.sparkContext.setJobDescription(s"graft-$op-rewrite")
    try withIdWriteConf(spark)(
      stampIds(spark, tagged, schema).write.partitionBy(srcCol)
        .mode("overwrite").parquet(staging))
    finally spark.sparkContext.setJobDescription(null)
    val staged = fs.listStatus(new org.apache.hadoop.fs.Path(staging))
      .filter(_.getPath.getName.startsWith(s"$srcCol="))
      .map(st => st.getPath.getName.drop(srcCol.length + 1) ->
        st.getPath).toMap
    // stats for the UNION of the targets' recorded columns — a
    // superset never costs correctness, only adds pruning coverage.
    // Restricted to paths the CURRENT schema still resolves (nested
    // stat keys resolve through the path walker): a renamed/dropped
    // column's historic stat key would otherwise crash the grouped
    // restat (losing its stale stats is conservative)
    val restatCols = (targets.flatMap(e => e.statMin.keys ++
      e.strMin.keys ++ e.nullCnt.keys) ++ extraRestatCols)
      .distinct.sorted.filter(c => nestedTypeOf(schema, c).isDefined)
    val restats = statsBySrc(spark, staging, srcCol, restatCols)
    val out = targets.flatMap { e =>
      staged.get(e.dir).map { sp =>
        val newDir = attemptDirName(v)
        val target = s"$path/data/$newDir"
        require(fs.rename(sp, new org.apache.hadoop.fs.Path(target)),
          s"ManifestTable.$op: could not promote $sp")
        val ((mins, maxes, sMins, sMaxes, nulls, sums), nRows) =
          restats.getOrElse(e.dir, (NoStats, 0L))
        val (blooms, strBlooms) = bloomsOf(spark, target,
          (e.bloom.keySet ++ e.strBloom.keySet).toSeq.sorted)
        val fl = listDataFilesOf(fs, target)
        Entry(newDir, e.tag, mins, maxes, Seq(e.dir), sMins, sMaxes,
          blooms, files = Some(fl), strBloom = strBlooms,
          // the grouped restat's count is exact (it read the staged
          // files promotion renamed); a failed restat records no
          // stats and NO row count — conservative, never wrong
          rows = if (restats.contains(e.dir)) Some(nRows)
            else rowsOf(spark, target, fl),
          nullCnt = nulls, sums = sums,
          // a staged rewrite only REMOVES rows from its source dir
          // (filter / anti-join) or patches NON-partition-source
          // values in place (update/mergeUpdate refuse SETs on
          // partition sources), so a partition-pure source stays
          // pure — the partition metadata carries through and
          // [[dropPartitions]] keeps working across merges/deletes
          partition = e.partition)
      }
    }
    fs.delete(new org.apache.hadoop.fs.Path(staging), true)
    out
  }

  /** Schema enforcement at the write boundary (what a raw parquet
    * directory fatally lacks — a typo'd batch silently forks the
    * table): every batch column must exist in the table schema with
    * the same type (nullability-insensitive), and NEW columns are
    * rejected unless `evolve` — additive evolution appends them (as
    * nullable) to the persisted schema, and [[readDirs]]'s
    * explicit-schema read fills them with null for pre-evolution
    * dirs. A batch may OMIT table columns (they read back null from
    * its dir) — the missing-column tolerance every micro-batch
    * ingest needs. Returns the schema to persist with the commit. */
  private[sinks] def compatibleSchema(batch: StructType, table: StructType,
      evolve: Boolean, ctx: String,
      allowWidening: Boolean = false): StructType = {
    val byName = table.fields.map(f => f.name -> f).toMap
    val fresh = batch.fields.filter(f => !byName.contains(f.name))
    batch.fields.foreach { f =>
      byName.get(f.name).foreach { tf =>
        require(tf.dataType.catalogString == f.dataType.catalogString ||
            (allowWidening && widens(f.dataType, tf.dataType)),
          s"$ctx: column '${f.name}' has type " +
            s"${f.dataType.catalogString} but the table schema says " +
            s"${tf.dataType.catalogString} — type changes are not " +
            "evolution; write to a new table or cast the batch")
      }
    }
    if (fresh.nonEmpty && !evolve)
      sys.error(s"$ctx: batch adds column(s) " +
        fresh.map(_.name).mkString("'", "', '", "'") +
        " not in the table schema — pass evolveSchema to evolve the " +
        "table additively, or drop them")
    StructType(table.fields ++ fresh.map(_.copy(nullable = true)))
  }

  /** The value-preserving implicit up-casts a write boundary may
    * apply (integral chain + float->double): every value converts
    * losslessly, so casting the BATCH to the table's type — never
    * the reverse — cannot change what a row means. Anything else
    * (narrowing, long->double, string<->number) stays a loud error:
    * those change values or semantics. */
  private[sinks] def widens(from: DataType, to: DataType): Boolean = {
    import org.apache.spark.sql.types._
    (from, to) match {
      case (ByteType, ShortType | IntegerType | LongType) => true
      case (ShortType, IntegerType | LongType) => true
      case (IntegerType, LongType) => true
      case (FloatType, DoubleType) => true
      // decimal(p,s) -> decimal(p+k,s): same scale, more precision —
      // every value converts losslessly (Iceberg's legal decimal
      // evolution); a SCALE change re-represents values and stays
      // a loud rewrite
      case (d1: DecimalType, d2: DecimalType) =>
        d2.scale == d1.scale && d2.precision >= d1.precision
      case _ => false
    }
  }

  /** Cast the batch's widenable columns to the table's types (see
    * [[widens]]) so the WRITTEN files carry exactly the table's
    * physical types — the persisted-schema read never depends on the
    * parquet reader's own conversion support. Identity when nothing
    * needs widening. */
  private[sinks] def alignToTable(df: DataFrame, table: StructType): DataFrame = {
    val byName = table.fields.map(f => f.name -> f).toMap
    val needs = df.schema.fields.exists(f =>
      byName.get(f.name).exists(tf =>
        tf.dataType != f.dataType && widens(f.dataType, tf.dataType)))
    if (!needs) df
    else df.select(df.schema.fields.map { f =>
      byName.get(f.name) match {
        case Some(tf) if widens(f.dataType, tf.dataType) =>
          col(f.name).cast(tf.dataType).as(f.name)
        case _ => col(f.name)
      }
    }.toSeq: _*)
  }

  /** The two per-type Bloom maps of one written dir:
    * (integral-keyed, string-keyed). */
  private type Blooms = (Map[String, Array[Byte]], Map[String, Array[Byte]])
  private val NoBlooms: Blooms = (Map.empty, Map.empty)

  /** Per-column Bloom filters over the WRITTEN dir's integral and
    * string columns (~1-2 KB each at batch sizes, fpp 1%): the
    * point-lookup stat min/max cannot provide when a key arrives
    * interleaved — every dir's range spans the domain, but each dir's
    * KEY SET is small, so `WHERE key = x` can skip every dir whose
    * filter proves absence. String keys matter as much as integral
    * ones: the hottest real-world point lookup is by a string id
    * (`WHERE id = 'CVE-…'`, /root/reference/chatbot_pg/main.py:89).
    * Null keys are excluded (a null never equals a probe). Absent or
    * other-typed columns record nothing (never pruned). The two
    * types land in DISJOINT maps (see [[Entry.mightContainPointStr]]
    * for why a shared map would risk false negatives). */
  private def bloomsOf(spark: SparkSession, dir: String,
      cols: Seq[String]): Blooms =
    if (cols.isEmpty) NoBlooms
    else (scala.util.Try {
      val df = spark.read.parquet(dir)
      def build(c: String, keyed: DataFrame): Option[Array[Byte]] = {
        val nn = keyed.filter(col("k").isNotNull)
        val n = nn.count()
        if (n == 0) None
        else {
          val bf = nn.stat.bloomFilter("k", math.max(n, 64L), 0.01)
          val out = new java.io.ByteArrayOutputStream()
          bf.writeTo(out)
          Some(out.toByteArray)
        }
      }
      // nested paths resolve through the one path walker exactly
      // like statsOf's — a dotted bloomCols entry ('meta.lang')
      // records the LEAF's filter under its dotted name, so nested
      // point lookups prune like top-level ones
      def typeOf(c: String) = nestedTypeOf(df.schema, c)
      cols.filter(c => typeOf(c).isDefined).foldLeft(NoBlooms) {
        case ((ints, strs), c) if typeOf(c).exists(isIntegral) =>
          (build(c, df.select(col(c).cast("long").as("k")))
            .map(b => ints + (c -> b)).getOrElse(ints), strs)
        case ((ints, strs), c) if typeOf(c).contains(
            org.apache.spark.sql.types.StringType) =>
          (ints, build(c, df.select(col(c).as("k")))
            .map(b => strs + (c -> b)).getOrElse(strs))
        case (acc, _) => acc
      }
    }).recover { case ex =>
      // one-sided failure (only costs pruning, never correctness) —
      // but say so: a silently bloom-less dir looks identical to one
      // that never asked for filters
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"ManifestTable: could not build Bloom filters for $dir " +
          s"(cols ${cols.mkString(",")}): ${ex.getMessage} — dir " +
          "recorded without filters (never pruned on point lookups)")
      NoBlooms
    }.get

  /** Append `df` as one immutable data directory + one new manifest.
    * `tag` is recorded on the new entry (streaming watermark); each
    * `statsCols` column additionally records the new dir's min/max,
    * enabling [[readPruned]] (and the `graft-manifest` SQL source's
    * filter pushdown) to skip whole dirs from the manifest alone.
    * The batch schema is enforced against the table's
    * ([[compatibleSchema]]; `evolveSchema` opts into additive
    * evolution; value-preserving WIDENING mismatches — an int batch
    * into a long table, float into double — are accepted and cast
    * before writing, so the files always carry the table's physical
    * types; anything else stays loud). Returns the committed
    * version.
    *
    * Concurrency: with `retries = 0` (default) the table is
    * single-writer — a violated contract costs the loser a loud
    * [[CommitConflictException]] and an orphan dir, never the
    * winner's snapshot. `retries > 0` turns the append OPTIMISTIC
    * (the Delta/Iceberg commit-retry shape): an append conflicts with
    * another append only on the version NUMBER, never on content, so
    * on [[CommitConflictException]] the metadata half re-derives
    * against the new latest (fresh entry list, re-checked schema
    * compatibility, merged pruning discipline) and re-commits at the
    * next version — the DATA DIR IS WRITTEN EXACTLY ONCE and reused,
    * so a retry costs one manifest read + one metadata commit, no
    * data rewrite. N uncoordinated appenders all land within N-1
    * retries (one writer wins every round). The dir name keeps the
    * FIRST attempt's version prefix — cosmetic only; readers resolve
    * dirs through the manifest, never by name.
    *
    * `partitionSpec` (on a FRESH table) creates the table
    * PARTITIONED by the given [[PartitionTransform]]s: this and every
    * later append stages one `partitionBy` write and commits one
    * partition-pure dir per derived value, each entry recording its
    * partition in the manifest — the layout [[readPartitions]] prunes
    * and [[dropPartitions]] drops metadata-only. The spec persists as
    * table metadata; later appends inherit it (passing the same spec
    * again is an idempotent no-op, a different one fails loudly).
    * `partitionFanout` round-robins the batch over that many write
    * tasks (each writes one file per partition value it holds) — the
    * knob for a batch whose biggest partition would otherwise funnel
    * through one task, at up to fanout x the file count; the default
    * 1 keeps the one-file-per-partition layout small batches want. */
  def append(spark: SparkSession, df: DataFrame, path: String,
      tag: Long = -1L, statsCols: Seq[String] = Nil,
      evolveSchema: Boolean = false,
      bloomCols: Seq[String] = Nil,
      retries: Int = 0,
      partitionSpec: Seq[PartitionTransform] = Nil,
      partitionFanout: Int = 1,
      extraCommitInfo: Seq[(String, String)] = Nil): Long = {
    require(retries >= 0, s"append: retries must be >= 0, got $retries")
    var written: Option[Seq[Entry]] = None
    var writtenSpec: Option[String] = None
    var writtenIds: Option[Map[String, Long]] = None
    var attempt = 0
    var validated = Set.empty[(String, String)]
    while (true) {
      val prev = latestVersion(spark, path)
      val v = prev.map(_ + 1).getOrElse(1L)
      val prevEntries = prev.map(pv => entriesOf(spark, path, pv))
        .getOrElse(Seq.empty)
      // re-checked per attempt: a concurrent writer may have evolved
      // the schema between our attempts — additive evolution merges,
      // anything else fails loudly here rather than committing a fork
      val schema0 = prev.flatMap(pv => schemaOf(spark, path, pv)) match {
        case Some(table) => compatibleSchema(df.schema, table,
          evolveSchema, s"ManifestTable.append($path)",
          allowWidening = true)
        case None => df.schema // fresh table (or pre-sidecar manifest)
      }
      // an evolution must not resurrect a RETIRED name (see colmapOf)
      prev.foreach { pv =>
        val prevNames = schemaOf(spark, path, pv)
          .map(_.fieldNames.toSet).getOrElse(Set.empty[String])
        refuseRetired(spark, path, pv,
          df.schema.fieldNames.filterNot(prevNames).toSeq,
          s"ManifestTable.append($path)")
      }
      // field ids assigned BEFORE the write so the data files carry
      // them (commit re-derives the same ids — deterministic)
      val schema = withFieldIds(schema0,
        prev.map(colmapOf(spark, path, _)._2).getOrElse(0L))
      // a rebase must not COMMIT ids that diverge from the ids
      // already stamped into the memoized files: after a conflict
      // past a concurrent schema-evolving/renaming commit, the
      // re-derived assignment can shift (a fresh column's id floats
      // with the new floor, or a racing writer took the id for a
      // different column) — the files would pass the stamping gate
      // and a later rename/drop would then silently null or
      // mis-resolve this dir's columns by id
      val idsNow = allFieldIds(schema)
      if (written.isDefined && writtenIds.exists(_ != idsNow))
        throw new CommitConflictException(
          s"ManifestTable.append($path): field-id assignment " +
            "changed between attempts (a concurrent schema " +
            "evolution reassigned ids) — committing would divorce " +
            "the manifest's ids from the ids stamped into this " +
            "attempt's files; its dirs are orphans vacuum will reap")
      if (written.isEmpty) writtenIds = Some(idsNow)
      // widenable batch columns (int into a long table) cast to the
      // table's types BEFORE writing — the files always carry the
      // table's physical types
      val aligned = alignToTable(df, schema)
      val spec = resolveSpec(spark, path, prev, partitionSpec,
        s"ManifestTable.append($path)")
      // a rebase must not publish dirs laid out under a DIFFERENT
      // spec than the one now governing the table (a racing creator
      // may have won with another layout while ours staged)
      if (written.isDefined && writtenSpec.exists(
          _ != PartitionTransform.renderSpec(spec)))
        throw new CommitConflictException(
          s"ManifestTable.append($path): the table's partition spec " +
            "changed between attempts — this attempt's dirs are " +
            "orphans vacuum will reap")
      if (written.isEmpty)
        writtenSpec = Some(PartitionTransform.renderSpec(spec))
      val es = written.getOrElse {
        val w = writeBatchEntries(spark, stampIds(spark, aligned, schema),
          path, v, tag, statsCols, bloomCols, spec, partitionFanout)
        written = Some(w)
        w
      }
      // CHECK constraints, re-read per attempt (a retry may rebase
      // past a concurrent addConstraint) and validated against the
      // WRITTEN dirs — the same written-is-truth rule as statsOf: a
      // non-deterministic source frame could pass a pre-write check
      // and still write violating rows. A violation costs orphan
      // dirs (vacuum reaps them), never a commit.
      val cs = prev.map(constraintsOf(spark, path, _)).getOrElse(Nil)
      val toCheck = cs.filterNot(validated)
      val withFiles = es.filter(_.files.exists(_.nonEmpty))
      if (toCheck.nonEmpty && withFiles.nonEmpty) {
        enforceConstraints(spark.read.parquet(
          withFiles.map(e => s"$path/data/${e.dir}"): _*),
          toCheck, s"ManifestTable.append($path)")
        validated ++= toCheck
      }
      val prevTag = prevTagOf(spark, path, prev, prevEntries)
      val (pStats, pBloom) = prev.map(pruningOf(spark, path, _))
        .getOrElse((Nil, Nil))
      try {
        commit(spark, path, v, prevEntries ++ es, schema,
          math.max(prevTag, tag),
          ((pStats ++ statsCols).distinct,
            (pBloom ++ bloomCols).distinct), cs, op = "append",
          extraCommitInfo = extraCommitInfo,
          partSpecBody = if (prev.isEmpty && spec.nonEmpty)
            Some(PartitionTransform.renderSpec(spec)) else None)
        return v
      } catch {
        case _: CommitConflictException if attempt < retries =>
          attempt += 1 // loop: re-derive against the new latest
      }
    }
    -1L // unreachable: the loop returns or the conflict propagates
  }

  /** The streaming sinks' shared exactly-once step: append `batch`
    * tagged `batchId` IFF it is fresh (batchId above the table
    * watermark — one side-file read), with the vacuum maintenance
    * cadence applied only on fresh batches (a replayed batch must not
    * pay, or commit, anything). One implementation for BOTH streaming
    * write paths ([[graft.streaming.Streams.manifestSinkWriter]]'s
    * foreachBatch and the `graft-manifest` StreamSinkProvider), so
    * the replay-skip rule and cadence can never drift apart. Returns
    * true iff the batch was appended. */
  def appendIfFresh(spark: SparkSession, batch: DataFrame, path: String,
      batchId: Long, statsCols: Seq[String] = Nil, vacuumEvery: Int = 0,
      keepVersions: Int = 2, bloomCols: Seq[String] = Nil,
      partitionSpec: Seq[PartitionTransform] = Nil,
      partitionFanout: Int = 1,
      vacuumMinAgeMillis: Long = 0L,
      writerId: Option[String] = None): Boolean = {
    val fresh = batchId > latestTag(spark, path)
    if (!fresh) requireSameWriter(spark, path, batchId, writerId,
      tagWriterOf(spark, path), "appendIfFresh")
    if (fresh) {
      append(spark, batch, path, tag = batchId, statsCols = statsCols,
        bloomCols = bloomCols, partitionSpec = partitionSpec,
        partitionFanout = partitionFanout,
        extraCommitInfo = writerId.map("tagWriter" -> _).toSeq)
      if (vacuumEvery > 0 && batchId > 0 && batchId % vacuumEvery == 0) {
        // the cadence report a streaming operator alarms on: a
        // steadily climbing reap count means loser attempt dirs are
        // being created at ingest rate — the symptom of a violated
        // single-writer contract, invisible otherwise because vacuum
        // quietly cleans up after it. Logged from THIS call's return
        // value (never the JVM-global last-report, which a concurrent
        // stream's vacuum could have overwritten in between).
        val r = vacuumDetailed(spark, path, keepVersions,
          tag = batchId, minAgeMillis = vacuumMinAgeMillis)
        org.slf4j.LoggerFactory.getLogger(getClass).info(
          s"ManifestTable.vacuum cadence at ${r.path} " +
            s"batch=${r.batchTag}: dropped ${r.manifestsDropped} " +
            s"manifest(s), reaped ${r.dirsReaped} data dir(s) " +
            s"(${r.bytesReaped} bytes)")
      }
    }
    fresh
  }

  /** The shared write tail of [[append]]/[[overwrite]]: one immutable
    * attempt-unique data dir + its statted entry. */
  private[sinks] def writeDirEntry(spark: SparkSession, df: DataFrame,
      path: String, v: Long, tag: Long, statsCols: Seq[String],
      bloomCols: Seq[String] = Nil): Entry = {
    val dirName = attemptDirName(v)
    val dataDir = s"$path/data/$dirName"
    withIdWriteConf(spark)(
      df.write.mode("overwrite").parquet(dataDir))
    val (fs, _) = fsOf(spark, path)
    val (mins, maxes, sMins, sMaxes, nulls, sums) =
      statsOf(spark, dataDir, statsCols)
    val (blooms, strBlooms) = bloomsOf(spark, dataDir, bloomCols)
    val fl = listDataFilesOf(fs, dataDir)
    Entry(dirName, tag, mins, maxes, Seq.empty, sMins, sMaxes,
      blooms, files = Some(fl), strBloom = strBlooms,
      rows = rowsOf(spark, dataDir, fl), nullCnt = nulls, sums = sums)
  }

  /** Partitioned twin of [[writeDirEntry]]: derive the spec's
    * partition values as reserved staging columns, stage ONE
    * `partitionBy` write (the derived columns are stripped from the
    * data files by partitionBy itself — hidden partitioning: the
    * user's schema never grows), restat the whole staged tree in ONE
    * grouped job ([[statsByKeys]]), then promote each leaf partition
    * dir to a first-class attempt-unique data dir whose entry
    * records its partition values. Returns one PARTITION-PURE entry
    * per non-empty partition of `df` (an empty `df` returns no
    * entries — the caller adds a watermark-only entry if the commit
    * must still ride a tag). `provenance` is empty for appends and
    * the rewritten dirs for [[repartitionTable]]. */
  private[sinks] def writePartitionedEntries(spark: SparkSession,
      df: DataFrame, path: String, v: Long, tag: Long,
      statsCols: Seq[String], bloomCols: Seq[String],
      spec: Seq[PartitionTransform],
      provenance: Seq[String], fanout: Int = 1,
      sortWithin: Seq[String] = Nil): Seq[Entry] = {
    import org.apache.spark.sql.types.{StringType, StructField}
    require(fanout >= 1, s"ManifestTable: fanout must be >= 1, got $fanout")
    val (fs, _) = fsOf(spark, path)
    val ptCols = spec.indices.map(i => s"_graft_pt_$i")
    ptCols.foreach(rc => require(!df.columns.contains(rc),
      s"ManifestTable: column name '$rc' is reserved for partition " +
        "staging — rename the column"))
    spec.foreach(t => require(df.columns.contains(t.src),
      s"ManifestTable: partition source column '${t.src}' " +
        s"(${t.render}) is missing from the batch — partitioned " +
        "writes require every partition source column"))
    val staging = s"$path/data/.part-${attemptDirName(v)}"
    // repartition on the derived values: each partition's rows land
    // in one task -> one file per (commit, partition), the layout the
    // manifest wants (dir count = partition count, not x taskCount).
    // `fanout > 1` ROUND-ROBINs the batch over exactly that many
    // write tasks instead (Spark's round-robin repartition sorts
    // locally first, so a retry stages the same split): every task
    // writes one file per partition value it holds, so one HUGE or
    // skewed partition spreads over up to `fanout` files while still
    // landing in its one leaf dir — without it, a 100 TB day would
    // funnel through a single write task. The trade is explicit:
    // fanout buys write parallelism at up to fanout x the file count.
    // The staged value is URL-ENCODED so the directory name is pure
    // ASCII whatever the value holds — Hive's own escaping passes
    // non-ASCII through raw, which breaks on any filesystem/JVM whose
    // path charset isn't UTF-8; the manifest records the DECODED
    // value, so the encoding is invisible to every reader
    // long values would overflow the filesystem's 255-byte name
    // limit once url-encoding (and Hive's escaping of '%' on top)
    // expands them — past 80 encoded chars the dir name switches to
    // prefix~sha256-abbrev. The dir name is then only a grouping KEY;
    // the exact value is recovered from the grouped restat below
    // ('~' cannot appear in url_encode output, so the marker is
    // unambiguous). Short values stay readable in the dir name.
    def safeName(e: org.apache.spark.sql.Column)
        : org.apache.spark.sql.Column = {
      val enc = url_encode(e)
      when(length(enc) <= 80, enc)
        .otherwise(concat(substring(enc, 1, 40), lit("~"),
          substring(sha2(enc, 256), 1, 32)))
    }
    val derived = spec.zip(ptCols).foldLeft(df) { case (d, (t, c)) =>
      d.withColumn(c, safeName(t.toExpr(df.schema)))
    }
    val spread =
      if (fanout == 1) derived.repartition(ptCols.map(col): _*)
      else derived.repartition(fanout)
    // optional within-partition clustering: rows sorted by
    // (partition, sortWithin) inside each write task, so every
    // staged file is internally ordered on the sort key — parquet
    // footer (row-group) pruning then composes with the dir-level
    // partition pruning, the Z-order idea one level down
    val ordered =
      if (sortWithin.isEmpty) spread
      else spread.sortWithinPartitions(
        (ptCols ++ sortWithin).map(col): _*)
    withIdWriteConf(spark)(
      ordered.write.partitionBy(ptCols: _*).mode("overwrite")
        .parquet(staging))
    // grouped restat with an EXPLICIT schema: partition-column type
    // inference would otherwise re-type a derived value (a "007"
    // prefix becomes int 7) and the recorded partition value would no
    // longer equal the transform's derivation — string, always
    val readSchema = StructType(df.schema.fields ++
      ptCols.map(c => StructField(c, StringType, nullable = true)))
    // extras recover each group's exact derived value (pure group ->
    // min == the value), so the manifest never depends on decoding a
    // possibly-abbreviated dir name
    val restats = scala.util.Try {
      statsByKeys(spark.read.schema(readSchema).parquet(staging),
        ptCols.map(col), statsCols, extras = spec.map(_.toExpr(df.schema)))
    }.getOrElse(
      Map.empty[Seq[String], (Stats, Long, Seq[Option[String]])])
    def leaves(p: org.apache.hadoop.fs.Path,
        level: Int): Seq[(org.apache.hadoop.fs.Path, List[String])] =
      if (level == ptCols.size) Seq((p, Nil))
      else fs.listStatus(p)
        .filter(st => st.isDirectory &&
          st.getPath.getName.startsWith(s"${ptCols(level)}="))
        .sortBy(_.getPath.getName).toSeq.flatMap { st =>
          // two decode layers meet here: Hive path escaping (what
          // partitionBy applied to the DIR NAME) is undone first,
          // recovering the staged url-encoded value — the restat key
          val raw = st.getPath.getName.drop(ptCols(level).length + 1)
          val enc = PartitionTransform.unescapePathValue(raw)
            .getOrElse(PartitionTransform.NullValue)
          leaves(st.getPath, level + 1)
            .map { case (lp, rest) => (lp, enc :: rest) }
        }
    def promote(leaf: org.apache.hadoop.fs.Path,
        encs: List[String]): Entry = {
      val dirName = attemptDirName(v)
      val target = s"$path/data/$dirName"
      require(fs.rename(leaf,
        new org.apache.hadoop.fs.Path(target)),
        s"ManifestTable: could not promote partition dir $leaf")
      val ((mins, maxes, sMins, sMaxes, nulls, sums), nRows, exVals) =
        restats.getOrElse(encs, (NoStats, 0L, Seq.empty))
      // the recorded value comes from the restat's per-group min
      // (exact: the group is pure); the dir-name decode is only the
      // fallback for a failed restat, and an ABBREVIATED name with no
      // restat leaves the field unrecorded — the dir reads partition-
      // blind (exact, just unpruned) rather than guessing
      val values: Seq[Option[String]] =
        if (exVals.size == spec.size)
          exVals.map(ov =>
            Some(ov.getOrElse(PartitionTransform.NullValue)))
        else encs.map {
          case PartitionTransform.NullValue =>
            Some(PartitionTransform.NullValue)
          case e if e.contains('~') => None
          case e => Some(java.net.URLDecoder.decode(e, "UTF-8"))
        }
      val (blooms, strBlooms) = bloomsOf(spark, target, bloomCols)
      val fl = listDataFilesOf(fs, target)
      Entry(dirName, tag, mins, maxes, provenance, sMins, sMaxes,
        blooms, files = Some(fl), strBloom = strBlooms,
        rows = if (restats.contains(encs)) Some(nRows)
          else rowsOf(spark, target, fl),
        nullCnt = nulls, sums = sums,
        partition = spec.map(_.field).zip(values).collect {
          case (f, Some(pv)) => f -> pv
        }.toMap)
    }
    // promotion is per-leaf independent (unique target names, one
    // FS rename + at most one small Bloom-build job each) — run it
    // on a bounded pool instead of a serial driver loop, which would
    // pay one job latency PER PARTITION when blooms are requested
    // (the same k-serialized-round-trips shape merge's rewrite
    // already eliminated). Order is re-established by sequence.
    val leafSeq = leaves(new org.apache.hadoop.fs.Path(staging), 0)
    val out =
      if (leafSeq.size <= 1 || bloomCols.isEmpty)
        leafSeq.map { case (l, e) => promote(l, e) }
      else {
        import scala.concurrent.{Await, ExecutionContext, Future}
        val pool = java.util.concurrent.Executors.newFixedThreadPool(
          math.min(8, leafSeq.size))
        implicit val ec: ExecutionContext =
          ExecutionContext.fromExecutorService(pool)
        try Await.result(
          Future.sequence(leafSeq.map { case (l, e) =>
            Future(promote(l, e)) }),
          scala.concurrent.duration.Duration.Inf)
        finally pool.shutdown()
      }
    fs.delete(new org.apache.hadoop.fs.Path(staging), true)
    out
  }

  /** The ONE batch-write dispatch every row-adding path uses
    * ([[append]], [[overwrite]], [[stageAppend]]): unpartitioned
    * tables write one dir; partitioned tables stage partition-pure
    * dirs; an all-empty partitioned batch still writes one file-less
    * dir so the commit can ride its tag (streaming watermark). */
  private[sinks] def writeBatchEntries(spark: SparkSession, df: DataFrame,
      path: String, v: Long, tag: Long, statsCols: Seq[String],
      bloomCols: Seq[String], spec: Seq[PartitionTransform],
      fanout: Int): Seq[Entry] =
    if (spec.isEmpty)
      Seq(writeDirEntry(spark, df, path, v, tag, statsCols, bloomCols))
    else {
      val pes = writePartitionedEntries(spark, df, path, v, tag,
        statsCols, bloomCols, spec, provenance = Seq.empty,
        fanout = fanout)
      if (pes.nonEmpty) pes
      else Seq(writeDirEntry(spark, df.limit(0), path, v, tag,
        statsCols, bloomCols))
    }

  /** Resolve the spec a write must route through: a table's persisted
    * spec always wins; an explicit spec is only CREATIVE on a fresh
    * table (or one whose spec it exactly matches — idempotent
    * bootstrap). A mismatch is loud: silently re-partitioning an
    * existing table would fork its layout. */
  private[sinks] def resolveSpec(spark: SparkSession, path: String,
      prev: Option[Long], requested: Seq[PartitionTransform],
      ctx: String): Seq[PartitionTransform] = {
    val table = prev.map(partitionSpecOf(spark, path, _)).getOrElse(Nil)
    if (requested.isEmpty) table
    else if (table.isEmpty && prev.isEmpty) requested
    else {
      require(PartitionTransform.renderSpec(requested) ==
        PartitionTransform.renderSpec(table),
        s"$ctx: partition spec " +
          requested.map(_.render).mkString("[", ", ", "]") +
          " does not match the table's " +
          table.map(_.render).mkString("[", ", ", "]") +
          " — a table's partition spec is immutable once created")
      table
    }
  }

  private[sinks] def prevTagOf(spark: SparkSession, path: String,
      prev: Option[Long], prevEntries: => Seq[Entry]): Long =
    prev.map(pv => maxTagOf(spark, path, pv).getOrElse(
      prevEntries.map(_.tag).foldLeft(-1L)(math.max))).getOrElse(-1L)

  /** Replace the table's content (and schema) with `df` in one atomic
    * commit: the new manifest references ONLY the new data dir. Old
    * snapshots still read their dirs until [[vacuum]] — an overwrite
    * is a new version like any other, and the watermark stays
    * monotone through it (a replayed batch is still skipped after a
    * deliberate overwrite). The new entries carry no provenance:
    * to [[readSince]] consumers the overwritten content is genuinely
    * new data, which is what an overwrite means. Returns the
    * committed version. */
  def overwrite(spark: SparkSession, df: DataFrame, path: String,
      tag: Long = -1L, statsCols: Seq[String] = Nil,
      bloomCols: Seq[String] = Nil, partitionFanout: Int = 1): Long = {
    val prev = latestVersion(spark, path)
    val v = prev.map(_ + 1).getOrElse(1L)
    // an overwrite replaces CONTENT, never identity: the table's
    // partition spec survives it (like its constraints), so the
    // replacement content is laid out partition-pure too
    val spec = resolveSpec(spark, path, prev, Nil,
      s"ManifestTable.overwrite($path)")
    // same-named columns keep their field ids across the overwrite
    // (an overwrite replaces CONTENT; a column that survives it is
    // the same column), fresh columns get fresh ids above the
    // colmap watermark
    val prevIds = prev.flatMap(pv => schemaOf(spark, path, pv))
      .map(_.fields.flatMap(f => fieldIdOf(f).map(f.name -> _)).toMap)
      .getOrElse(Map.empty[String, Long])
    val schemaO = withFieldIds(StructType(df.schema.fields.map { f =>
      prevIds.get(f.name) match {
        case Some(id) => f.copy(metadata =
          new org.apache.spark.sql.types.MetadataBuilder()
            .withMetadata(f.metadata).putLong(FieldIdKey, id).build())
        case None => f
      }
    }), prev.map(colmapOf(spark, path, _)._2).getOrElse(0L))
    val es = writeBatchEntries(spark, stampIds(spark, df, schemaO),
      path, v, tag, statsCols, bloomCols, spec, partitionFanout)
    // constraints are TABLE metadata: they survive a content
    // overwrite (like Delta's) and the replacement content must
    // satisfy them — validated against the written dirs, like append
    val cs = prev.map(constraintsOf(spark, path, _)).getOrElse(Nil)
    val withFiles = es.filter(_.files.exists(_.nonEmpty))
    if (withFiles.nonEmpty)
      enforceConstraints(spark.read.parquet(
        withFiles.map(e => s"$path/data/${e.dir}"): _*),
        cs, s"ManifestTable.overwrite($path)")
    val prevTag = prevTagOf(spark, path, prev,
      prev.map(pv => entriesOf(spark, path, pv)).getOrElse(Seq.empty))
    commit(spark, path, v, es, schemaO, math.max(prevTag, tag),
      (statsCols, bloomCols), cs, op = "overwrite")
    v
  }

  /** Publish version `v`: write the manifest parquet plus the schema
    * and watermark sidecars into a `.tmp-` directory, then rename it
    * into place — the rename is the commit point for all three.
    * Package-visible so the concurrency spec can drive a losing
    * commit attempt directly. */
  private[graft] def commit(spark: SparkSession, path: String, v: Long,
      entries: Seq[Entry], schema: StructType, maxTag: Long,
      pruning: (Seq[String], Seq[String]) = (Nil, Nil),
      constraints: Seq[(String, String)] = Nil,
      op: String = "commit",
      partSpecBody: Option[String] = None,
      extraCommitInfo: Seq[(String, String)] = Nil,
      colmapBodyOpt: Option[String] = None): Unit = {
    import spark.implicits._
    val (fs, _) = fsOf(spark, path)
    // field ids are assigned AT the persistence boundary (idempotent
    // with any pre-write assignment — deterministic in field order),
    // so every sidecar committed by this code carries stable column
    // identity, whatever path produced the schema
    val (prevMapped, prevMax, prevRetired) =
      if (v <= 1) (false, 0L, Seq.empty[String])
      else colmapOf(spark, path, v - 1)
    val schemaP = withFieldIds(schema, prevMax)
    val mDir = new org.apache.hadoop.fs.Path(s"$path/manifest")
    fs.mkdirs(mDir)
    // drop tmp debris from crashed EARLIER commits only: a tmp dir
    // whose version is below v belongs to a version that has since
    // committed (v is always latest+1), so it can only be an abandoned
    // attempt. Same-version tmp dirs are left alone — they may belong
    // to a RACING attempt at v, and deleting them would let two
    // writers interleave files in each other's staging (a torn
    // manifest whose rename could still pass the attempt-id check).
    // Each attempt's staging is attempt-unique for the same reason the
    // data dirs are.
    fs.listStatus(mDir).filter { st =>
      val n = st.getPath.getName
      n.startsWith(".tmp-v") && {
        val digits = n.drop(6).takeWhile(_.isDigit)
        digits.nonEmpty && digits.toLong < v
      }
    }.foreach(st => fs.delete(st.getPath, true))
    val tmp = new org.apache.hadoop.fs.Path(
      s"$path/manifest/.tmp-${vName(v)}_" +
        java.util.UUID.randomUUID.toString.take(8))
    val fin = new org.apache.hadoop.fs.Path(s"$path/manifest/${vName(v)}")
    // staging races the debris sweep above: a writer that won v and
    // is already committing v+1 sees THIS attempt's tmp dir as
    // below-its-version debris and deletes it mid-write. That loss is
    // decided either way — but it must surface as the TYPED conflict
    // the retry loops re-drive on, not as a raw filesystem error.
    def stageOrConflict[A](body: => A): A =
      try body catch {
        case scala.util.control.NonFatal(e) if fs.exists(fin) =>
          throw new CommitConflictException(
            s"ManifestTable.commit: lost ${vName(v)} at $path while " +
              "staging (a racing winner swept this attempt's tmp dir " +
              s"as debris: ${e.getMessage}); this attempt's data dir " +
              "is an orphan vacuum will reap")
      }
    val attemptId = java.util.UUID.randomUUID.toString
    stageOrConflict {
    writeEntriesParquet(spark, entries, tmp.toString)
    writeSideFile(fs, new org.apache.hadoop.fs.Path(
      tmp, "_graft_schema.json"), schemaP.json)
    writeSideFile(fs, new org.apache.hadoop.fs.Path(
      tmp, "_graft_maxtag"), maxTag.toString)
    // the column-map sidecar self-carries once mapped (like the
    // partition spec), its id high watermark refreshed so a dropped
    // column's id is never reused by a later evolution
    val liveMax = maxFieldId(schemaP)
    colmapBodyOpt.orElse(
      if (prevMapped) Some(colmapBody(mapped = true,
        math.max(prevMax, liveMax), prevRetired)) else None)
      .foreach(body => writeSideFile(fs,
        new org.apache.hadoop.fs.Path(tmp, "_graft_colmap"), body))
    writeSideFile(fs, new org.apache.hadoop.fs.Path(
      tmp, "_graft_pruning"), pruningBody(pruning._1, pruning._2))
    // the partition spec is immutable table metadata: set once (the
    // explicit body, on the creating commit), then SELF-CARRIED from
    // the previous version's sidecar by every later commit — no
    // caller can forget to thread it, so a maintenance op can never
    // silently un-partition a table. v-1 is always the un-vacuumed
    // latest when this commit wins, so the carry read never misses.
    partSpecBody.orElse(
      readSideFile(fs, new org.apache.hadoop.fs.Path(
        s"$path/manifest/${vName(v - 1)}/_graft_partspec")))
      .filter(_.trim.nonEmpty)
      .foreach(body => writeSideFile(fs,
        new org.apache.hadoop.fs.Path(tmp, "_graft_partspec"), body))
    if (constraints.nonEmpty)
      writeSideFile(fs, new org.apache.hadoop.fs.Path(
        tmp, "_graft_constraints"), constraintsBody(constraints))
    // who/when metadata rides the same atomic rename as everything
    // else: one line each for the operation name and the wall-clock
    // commit time — the raw material of [[history]] and
    // timestamp-based time travel (DESCRIBE HISTORY / TIMESTAMP AS
    // OF). Informational, never load-bearing for correctness: reads
    // resolve by VERSION, and [[versionAtTimestamp]] monotonizes
    // before comparing, so clock skew can cost resolution precision
    // but never a torn read.
    writeSideFile(fs, new org.apache.hadoop.fs.Path(
      tmp, "_graft_commit"),
      s"op=$op\nts=${System.currentTimeMillis()}\n" +
        extraCommitInfo.map { case (k, x) => s"$k=$x\n" }.mkString)
    // the attempt id closes the exists-then-rename race on
    // filesystems where rename(src, existing-dir) moves src INSIDE
    // the destination (HDFS semantics): there the loser's rename
    // RETURNS TRUE while publishing nothing, so success is defined as
    // "the published manifest is OURS", verified by reading the id
    // back through the final path — not as "rename returned true"
    writeSideFile(fs, new org.apache.hadoop.fs.Path(
      tmp, "_graft_attempt"), attemptId)
    } // stageOrConflict
    val renamed = !fs.exists(fin) && fs.rename(tmp, fin)
    val published = renamed && readSideFile(fs,
      new org.apache.hadoop.fs.Path(fin, "_graft_attempt"))
      .contains(attemptId)
    if (!published) {
      // best-effort: if our tmp dir was swallowed INTO the winner's
      // manifest dir, remove that (dot-prefixed, reader-invisible)
      // debris before failing
      fs.delete(new org.apache.hadoop.fs.Path(fin, tmp.getName), true)
      throw new CommitConflictException(
        s"ManifestTable.commit: could not publish ${vName(v)} at $path " +
          "— another writer committed this version first (single-writer " +
          "contract violated, or append was called without retries); " +
          "this attempt's data dir is an orphan vacuum will reap")
    }
  }

  /** Thrown when a commit loses the version race to another writer.
    * The typed signal [[append]]'s optimistic-concurrency retry loop
    * keys on — and what a caller orchestrating its own writers can
    * catch to re-drive. The loser's snapshot is untouched; only its
    * attempt dirs are orphaned (vacuum reaps them). */
  final class CommitConflictException(message: String)
    extends RuntimeException(message)

  /** Latest snapshot restricted to data dirs whose recorded min/max
    * overlaps EVERY `[col, lo, hi]` predicate — dir-granularity
    * pruning decided from the MANIFEST alone, before any data file is
    * listed or opened (the Iceberg-manifest-stats idea at its
    * smallest). Dirs without stats on a predicate's column are
    * conservatively kept; an empty survivor set returns an empty
    * frame with the snapshot's schema. The caller still applies its
    * row filter — pruning only cuts which dirs can contain matches,
    * exactly like parquet's own row-group skip one level down. */
  def readPruned(spark: SparkSession, path: String,
      preds: Seq[(String, Long, Long)]): DataFrame = {
    val v = latestVersion(spark, path).getOrElse(
      sys.error(s"ManifestTable.readPruned: no committed version at $path"))
    val entries = entriesOf(spark, path, v)
    // a POINT predicate (lo == hi) additionally consults the dir's
    // Bloom filter when one was recorded — the prune that works on
    // interleaved keys where every dir's min/max spans the domain
    val keep = entries.filter(e =>
      preds.forall { case (c, lo, hi) =>
        e.mightOverlap(c, lo, hi) &&
          (lo != hi || e.mightContainPoint(c, lo))
      })
    readDirs(spark, path, v, entries, keep)
  }

  /** Point-SET pruned read (`key IN (...)`): a dir is kept iff SOME
    * value passes both its min/max and its Bloom filter — strictly
    * tighter than the values' envelope, which on an interleaved key
    * prunes nothing. */
  def readPrunedIn(spark: SparkSession, path: String, statsCol: String,
      values: Seq[Long]): DataFrame = {
    val v = latestVersion(spark, path).getOrElse(
      sys.error(s"ManifestTable.readPrunedIn: no committed version at $path"))
    val entries = entriesOf(spark, path, v)
    val keep = entries.filter(e => values.exists(x =>
      e.mightOverlap(statsCol, x, x) && e.mightContainPoint(statsCol, x)))
    readDirs(spark, path, v, entries, keep)
  }

  /** Single-predicate convenience form of [[readPruned]]. */
  def readPruned(spark: SparkSession, path: String, statsCol: String,
      lo: Long, hi: Long): DataFrame =
    readPruned(spark, path, Seq((statsCol, lo, hi)))

  /** [[readPruned]] for a STRING-typed stats column: latest snapshot
    * restricted to dirs whose recorded string bounds overlap
    * `[lo, hi]` — the categorical-pruning form (`lang = 'es'`,
    * `source = 'web'`) a corpus clustered by a categorical column
    * gets for free from its ingest layout. ASCII-guarded (see
    * [[Entry.mightOverlapStr]]); non-ASCII bounds never prune. */
  def readPrunedStr(spark: SparkSession, path: String, statsCol: String,
      lo: String, hi: String): DataFrame = {
    val v = latestVersion(spark, path).getOrElse(
      sys.error(s"ManifestTable.readPrunedStr: no committed version at $path"))
    val entries = entriesOf(spark, path, v)
    // a POINT probe (lo == hi) additionally consults the dir's
    // string-keyed Bloom filter when one was recorded — the prune a
    // string id column gets on an interleaved layout where bounds
    // span the domain (and, non-ASCII, never prune at all)
    readDirs(spark, path, v, entries,
      entries.filter(e => e.mightOverlapStr(statsCol, lo, hi) &&
        (lo != hi || e.mightContainPointStr(statsCol, lo))))
  }

  /** String point-SET pruned read (`key IN ('a', 'b', …)`): a dir is
    * kept iff SOME value passes both its string bounds and its
    * string-keyed Bloom filter — [[readPrunedIn]]'s twin for the
    * string-id lookups that dominate real point-query traffic. */
  def readPrunedInStr(spark: SparkSession, path: String, statsCol: String,
      values: Seq[String]): DataFrame = {
    val v = latestVersion(spark, path).getOrElse(
      sys.error(s"ManifestTable.readPrunedInStr: no committed version at $path"))
    val entries = entriesOf(spark, path, v)
    val keep = entries.filter(e => values.exists(x =>
      e.mightOverlapStr(statsCol, x, x) &&
        e.mightContainPointStr(statsCol, x)))
    readDirs(spark, path, v, entries, keep)
  }

  /** Latest snapshot as a DataFrame. The file list is resolved NOW, so
    * the returned frame keeps reading this snapshot's (immutable) dirs
    * even if appends or compactions commit afterwards. */
  def read(spark: SparkSession, path: String): DataFrame =
    readVersion(spark, path,
      latestVersion(spark, path).getOrElse(
        sys.error(s"ManifestTable.read: no committed version at $path")))

  /** Time travel: snapshot `v` exactly as committed (fails if `v` was
    * never committed or was vacuumed). */
  def readVersion(spark: SparkSession, path: String, v: Long): DataFrame = {
    require(versions(spark, path).contains(v),
      s"ManifestTable: ${vName(v)} is not a committed snapshot at " +
        s"$path (never committed, or vacuumed)")
    val entries = entriesOf(spark, path, v)
    readDirs(spark, path, v, entries, entries)
  }

  /** Rewrite the CURRENT snapshot's content into one fresh data dir
    * (sized like [[Maintenance.compactParquet]]: `targetFileBytes`
    * per file, floored at `minFiles` splits) and commit it as a new
    * version. Pure metadata swap for readers — older snapshots still
    * reference their original dirs until [[vacuum]]. The compacted
    * entry records every source dir as provenance, so [[readSince]]
    * consumers that already drained those commits see the compaction
    * as a no-op instead of a whole-table re-read. A table with no
    * readable data files (only empty-batch commits) is a no-op:
    * returns the current version unchanged. Returns the new
    * version. */
  def compact(spark: SparkSession, path: String,
      targetFileBytes: Long = 128L << 20, minFiles: Int = 1,
      retries: Int = 0): Long = {
    val (fs, _) = fsOf(spark, path)
    val prev = latestVersion(spark, path).getOrElse(
      sys.error(s"ManifestTable.compact: no committed version at $path"))
    // a partitioned table's "good layout" is partition-pure dirs,
    // not one merged dir (which would erase every entry's partition
    // metadata and stall dropPartitions) — compaction delegates
    if (partitionSpecOf(spark, path, prev).nonEmpty)
      return repartitionTable(spark, path, retries)
    val entries = entriesOf(spark, path, prev)
    val readable = entries.filter(e =>
      e.hasData(fs, s"$path/data/${e.dir}"))
    if (readable.isEmpty) return prev // nothing to rewrite
    // size from recorded file lists where present — the content-
    // summary RPC only for pre-upgrade entries
    val bytes = readable.map(e => e.files match {
      case Some(m) => m.values.sum
      case None => fs.getContentSummary(new org.apache.hadoop.fs.Path(
        s"$path/data/${e.dir}")).getLength
    }).sum
    val nOut = math.max(minFiles.toLong,
      (bytes + targetFileBytes - 1) / targetFileBytes).toInt
    val v = prev + 1
    val dirName = attemptDirName(v)
    val dataDir = s"$path/data/$dirName"
    val schema = tableSchema(spark, path, prev, entries)
    // rewrite under the TABLE schema: pre-evolution dirs surface their
    // missing columns as nulls, so the compacted dir is normalized —
    // and pending deletion vectors are applied on the way through
    // (compaction MATERIALIZES them; a raw read would resurrect
    // deleted rows into the compacted dir)
    val hadDv = readable.exists(_.dv.nonEmpty)
    withIdWriteConf(spark)(
      stampIds(spark, readableFrame(spark, path, schema, readable),
        schema)
        .repartition(nOut)
        .write.mode("overwrite").parquet(dataDir))
    // the merged entry keeps the max per-dir tag (honest: the dir
    // holds rows from batches up to that tag) and folds stats
    // per-column: a column is folded only when EVERY readable source
    // entry recorded it (otherwise the fold would under-cover —
    // dropped is conservative, never wrong). File-less source dirs
    // hold no rows, so they join the provenance list but not the fold.
    val tag = readable.map(_.tag).foldLeft(-1L)(math.max)
    val (mins, maxes, sMins, sMaxes, nulls, sums) =
      if (hadDv) {
        // folding pre-delete per-dir stats would record bounds/null
        // counts for rows the materialization just removed — wider
        // bounds only cost pruning, but the folded NULL COUNTS could
        // claim an all-null column that isn't (a wrong prune) and the
        // metadata-only aggregates would treat the folded numbers as
        // exact (a wrong ANSWER, since the compacted entry carries no
        // dv to gate them). Re-stat the written dir instead: one
        // columnar read, same written-is-truth rule as append.
        statsOf(spark, dataDir,
          readable.flatMap(e => e.statMin.keys ++ e.strMin.keys ++
            e.nullCnt.keys).distinct.sorted
            // a renamed/dropped column's historic stat key no longer
            // exists in the written dir — losing its stats is
            // conservative; selecting it would crash the restat
            .filter(schema.fieldNames.contains))
      } else {
        val foldCols = readable.map(_.statMin.keySet)
          .reduce(_ intersect _).toSeq.sorted
        // string stats fold only when every entry has them AND every
        // bound is ASCII (the JVM min/max used here must agree with the
        // UTF8String ordering that recorded them — see [[asciiOnly]]);
        // otherwise dropped, conservative
        val sFoldCols = readable.map(_.strMin.keySet)
          .reduce(_ intersect _).toSeq.sorted
          .filter(c => readable.forall(e =>
            asciiOnly(e.strMin(c)) && asciiOnly(e.strMax(c))))
        // null counts fold exactly (the compacted dir holds precisely
        // the union of the source rows) — per column, when EVERY
        // source recorded one; otherwise dropped, conservative like
        // the bounds
        val nFoldCols = readable.map(_.nullCnt.keySet)
          .reduce(_ intersect _).toSeq.sorted
        // exact sums fold by arbitrary-precision addition — per
        // column, when every source that HOLDS non-null values
        // recorded one (an all-null source contributes nothing to a
        // SUM, exactly like the bounds' treatment)
        val liveFor: String => Seq[Entry] = c => readable.filterNot(e =>
          e.rows.exists(r => e.nullCnt.get(c).contains(r)))
        val sumCols = readable.flatMap(_.sums.keySet).distinct.sorted
          .filter(c => liveFor(c).forall(_.sums.contains(c)))
        (foldCols.map(c => c -> readable.map(_.statMin(c)).min).toMap,
          foldCols.map(c => c -> readable.map(_.statMax(c)).max).toMap,
          sFoldCols.map(c => c -> readable.map(_.strMin(c)).min).toMap,
          sFoldCols.map(c => c -> readable.map(_.strMax(c)).max).toMap,
          nFoldCols.map(c => c -> readable.map(_.nullCnt(c)).sum).toMap,
          sumCols.map(c => c -> liveFor(c)
            .map(e => BigInt(e.sums(c))).sum.toString).toMap)
      }
    // provenance lists only the dirs whose ROWS went in: a file-less
    // (empty-batch) dir contributed nothing, and naming it would make
    // a consumer that never saw the empty commit read the whole fold
    // as mixed lineage and fail for zero actually-missed rows
    val fl = listDataFilesOf(fs, dataDir)
    val merged = Entry(dirName, tag, mins, maxes, readable.map(_.dir),
      sMins, sMaxes, files = Some(fl),
      rows = rowsOf(spark, dataDir, fl), nullCnt = nulls, sums = sums)
    // like cluster: compaction has no row-level effect, any concurrent
    // addition is rebase-safe (it just isn't in this compacted dir)
    commitRewrite(spark, path, "compact", prev, entries,
      entries.map(_.dir).toSet, Seq(merged), schema, Nil, Nil, retries,
      _ => true)
  }

  /** Rewrite the table's current content into PARTITION-PURE dirs —
    * one per distinct partition value — restoring every entry's
    * partition metadata (and materializing pending deletion vectors
    * on the way through, like [[compact]]). This is the maintenance
    * pass that re-arms [[dropPartitions]] after an operation that
    * produced partition-blind dirs ([[cluster]]/[[clusterZ]], a
    * pre-spec migration), and it IS the partitioned table's
    * compaction: per partition, k small commit dirs fold into one.
    * `sortWithin` additionally sorts rows inside each partition's
    * files (OPTIMIZE's one-dimensional within-partition cousin), so
    * parquet row-group pruning on those columns composes with the
    * dir-level partition pruning.
    * Like compact it is a metadata swap — old snapshots keep reading
    * their original dirs until [[vacuum]] — and it has no row-level
    * effect, so concurrent appends rebase safely. Returns the
    * committed version (or the current one when there is nothing to
    * rewrite). */
  def repartitionTable(spark: SparkSession, path: String,
      retries: Int = 0, fanout: Int = 1,
      sortWithin: Seq[String] = Nil): Long = {
    val (fs, _) = fsOf(spark, path)
    val prev = latestVersion(spark, path).getOrElse(sys.error(
      s"ManifestTable.repartitionTable: no committed version at $path"))
    val entries = entriesOf(spark, path, prev)
    val spec = partitionSpecOf(spark, path, prev)
    require(spec.nonEmpty,
      s"ManifestTable.repartitionTable: $path has no partition spec " +
        "— nothing to lay out by")
    val readable = entries.filter(e =>
      e.hasData(fs, s"$path/data/${e.dir}"))
    if (readable.isEmpty) return prev
    val schema = tableSchema(spark, path, prev, entries)
    val current = readableFrame(spark, path, schema, readable)
    val statCols = readable.flatMap(e => e.statMin.keys ++
      e.strMin.keys ++ e.nullCnt.keys).distinct.sorted
    val bloomCols = readable.flatMap(e => e.bloom.keys ++
      e.strBloom.keys).distinct.sorted
    val tag = readable.map(_.tag).foldLeft(-1L)(math.max)
    val produced = writePartitionedEntries(spark, current, path,
      prev + 1, tag, statCols, bloomCols, spec,
      provenance = readable.map(_.dir), fanout = fanout,
      sortWithin = sortWithin)
    commitRewrite(spark, path, "repartition", prev, entries,
      entries.map(_.dir).toSet, produced, schema, Nil, Nil, retries,
      _ => true)
  }

  /** Latest snapshot restricted to the partitions matching `pred`
    * (partition field -> derived value; the null partition is
    * addressed as [[PartitionTransform.NullValue]]) — EXACT at any
    * metadata state: partition-pure dirs are pruned or taken whole
    * from the manifest alone, and dirs WITHOUT partition metadata
    * (produced by cluster, or written before the spec existed) are
    * read with the transforms re-derived as a row filter, so a
    * missing annotation costs a scan, never a wrong row set. */
  def readPartitions(spark: SparkSession, path: String,
      pred: Map[String, String]): DataFrame = {
    val v = latestVersion(spark, path).getOrElse(sys.error(
      s"ManifestTable.readPartitions: no committed version at $path"))
    val entries = entriesOf(spark, path, v)
    val spec = partitionSpecOf(spark, path, v)
    require(spec.nonEmpty,
      s"ManifestTable.readPartitions: $path has no partition spec")
    require(pred.nonEmpty, "ManifestTable.readPartitions: empty " +
      "predicate — use read() for the whole table")
    val fields = spec.map(_.field)
    pred.keys.foreach(k => require(fields.contains(k),
      s"ManifestTable.readPartitions: unknown partition field '$k' " +
        s"— the table partitions by ${fields.mkString(", ")}"))
    val (known, blind) = entries.partition(e =>
      pred.keys.forall(e.partition.contains))
    val hit = known.filter(e =>
      pred.forall { case (f, pv) => e.partition(f) == pv })
    val base = readDirs(spark, path, v, entries, hit)
    if (blind.isEmpty) base
    else {
      val blindDf = readDirs(spark, path, v, entries, blind)
      val residual = pred.map { case (f, pv) =>
        val t = spec.find(_.field == f).get
        if (pv == PartitionTransform.NullValue)
          t.toExpr(blindDf.schema).isNull
        else t.toExpr(blindDf.schema) === lit(pv)
      }.reduce(_ && _)
      base.unionByName(blindDf.filter(residual))
    }
  }

  /** METADATA-ONLY partition delete: commit a new manifest WITHOUT
    * the entries matching `pred` — zero rows read, zero rows
    * written, whatever the partitions' size. This is the
    * retention/GDPR-by-partition delete every table format exists
    * for (`ALTER TABLE ... DROP PARTITION`): dropping a day from a
    * 100 TB days-partitioned table costs one manifest commit. Old
    * snapshots still see the rows until [[vacuum]] reaps the
    * now-unreferenced dirs — deletion is a new version, not an edit.
    *
    * Exactness over convenience: every DATA dir must carry the
    * predicate's partition fields — a partition-blind dir (from
    * [[cluster]], or pre-spec) CANNOT be proven disjoint from the
    * predicate by metadata, so the call fails loudly naming the dirs
    * and the fix ([[repartitionTable]]) instead of guessing or
    * silently falling back to a data rewrite. `retries > 0` rebases
    * only when every concurrently-added dir provably does NOT match
    * the predicate. Returns (new version, dirs dropped); no match is
    * a no-op at the current version. */
  def dropPartitions(spark: SparkSession, path: String,
      pred: Map[String, String], retries: Int = 0): (Long, Int) = {
    require(pred.nonEmpty,
      "ManifestTable.dropPartitions: empty predicate would drop " +
        "nothing — to clear the table, use overwrite with an empty " +
        "frame")
    dropWhere(spark, path, pred.keys.toSeq,
      e => pred.forall { case (f, pv) => e.partition(f) == pv },
      retries)
  }

  /** [[dropPartitions]] for a VALUE SET on one field — `ALTER TABLE
    * ... DROP PARTITION` for several partitions as ONE atomic commit
    * (the SQL `DELETE ... IN (...)` fast path routes here; dropping
    * them one call at a time would let a reader — or a crash —
    * observe a torn delete between commits). */
  def dropPartitionsIn(spark: SparkSession, path: String,
      field: String, values: Seq[String],
      retries: Int = 0): (Long, Int) = {
    require(values.nonEmpty,
      "ManifestTable.dropPartitionsIn: empty value set drops nothing")
    val vs = values.toSet
    dropWhere(spark, path, Seq(field),
      e => vs.contains(e.partition(field)), retries)
  }

  /** Thrown when a metadata-only partition operation meets a data
    * dir WITHOUT partition metadata (cluster output, pre-spec
    * commits) — metadata cannot prove it disjoint. Typed so callers
    * with an exact row-level fallback (the SQL DELETE fast path) can
    * dispatch on it instead of on message text. */
  final class PartitionBlindException(message: String)
    extends IllegalArgumentException(message)

  private def dropWhere(spark: SparkSession, path: String,
      predFields: Seq[String], matches: Entry => Boolean,
      retries: Int): (Long, Int) = {
    val (fs, _) = fsOf(spark, path)
    val prev = latestVersion(spark, path).getOrElse(sys.error(
      s"ManifestTable.dropPartitions: no committed version at $path"))
    val entries = entriesOf(spark, path, prev)
    val spec = partitionSpecOf(spark, path, prev)
    require(spec.nonEmpty,
      s"ManifestTable.dropPartitions: $path has no partition spec")
    val fields = spec.map(_.field)
    predFields.foreach(k => require(fields.contains(k),
      s"ManifestTable.dropPartitions: unknown partition field '$k' " +
        s"— the table partitions by ${fields.mkString(", ")}"))
    def covered(e: Entry): Boolean =
      predFields.forall(e.partition.contains)
    val dataEntries = entries.filter(e =>
      e.hasData(fs, s"$path/data/${e.dir}"))
    val blind = dataEntries.filterNot(covered)
    if (blind.nonEmpty) throw new PartitionBlindException(
      s"ManifestTable.dropPartitions: dir(s) " +
        blind.map(_.dir).sorted.mkString(", ") +
        " carry no partition metadata for " +
        predFields.sorted.mkString(", ") +
        " — metadata cannot prove them disjoint; run " +
        "repartitionTable first")
    val drop = dataEntries.filter(matches)
    if (drop.isEmpty) return (prev, 0)
    val committed = commitRewrite(spark, path, "dropPartitions", prev,
      entries, drop.map(_.dir).toSet, Seq.empty,
      tableSchema(spark, path, prev, entries), Nil, Nil, retries,
      added => added.forall(e =>
        !e.hasData(fs, s"$path/data/${e.dir}") ||
          (covered(e) && !matches(e))))
    (committed, drop.size)
  }

  /** Incremental consumption: rows committed AFTER snapshot
    * `sinceVersion`, resolved from manifest metadata alone (no data
    * listing, no content diff). This is the change-data-capture read
    * a downstream incremental job wants: checkpoint the version you
    * processed, ask for everything since, repeat — each commit is
    * consumed exactly once because dirs are immutable and provenance
    * is recorded on rewrite.
    *
    * A dir counts as ALREADY CONSUMED when it was in the checkpoint
    * snapshot, or — via the provenance chain — when it is a pure
    * rewrite of consumed dirs ([[compact]] / [[deleteRange]] after
    * the consumer drained: the maintenance becomes invisible instead
    * of a spurious whole-table re-read). A rewrite that FOLDED
    * consumed and unconsumed commits together cannot be split by
    * metadata and fails loudly, naming the drain-before-maintenance
    * contract. `sinceVersion <= 0` is the bootstrap read (the whole
    * table); a vacuumed checkpoint fails with the contract named.
    * Returns an empty frame (snapshot schema) when nothing is new. */
  def readSince(spark: SparkSession, path: String,
      sinceVersion: Long): DataFrame = {
    val latest = latestVersion(spark, path).getOrElse(
      sys.error(s"ManifestTable.readSince: no committed version at $path"))
    readSinceUntil(spark, path, sinceVersion, latest)
  }

  /** [[readSince]] with an explicit upper snapshot: rows committed in
    * versions `(sinceVersion, untilVersion]`. This bounded form is
    * what a STREAMING consumer needs — a micro-batch is the diff
    * between two pinned versions, so a replayed batch (same offsets)
    * re-reads exactly the same rows as long as both snapshots are
    * retained (the vacuum-retention caveat every offset-replay source
    * has — size retention to checkpoint recovery, like Kafka's). */
  def readSinceUntil(spark: SparkSession, path: String,
      sinceVersion: Long, untilVersion: Long): DataFrame = {
    val all = versions(spark, path)
    val vs = all.filter(_ <= untilVersion)
    val latest = vs.lastOption.getOrElse {
      if (all.nonEmpty) sys.error(
        s"ManifestTable.readSince: ${vName(untilVersion)} was vacuumed " +
          s"past this consumer's replay window at $path — re-bootstrap " +
          "with sinceVersion = 0 (size vacuum retention to the slowest " +
          "consumer's lag, like a Kafka retention window)")
      else sys.error(
        s"ManifestTable.readSince: no committed version at $path")
    }
    require(latest == untilVersion,
      s"ManifestTable.readSince: ${vName(untilVersion)} is not a " +
        s"committed snapshot at $path — never committed, or vacuumed " +
        "past the consumer's replay window (re-bootstrap with " +
        "sinceVersion = 0)")
    val now = entriesOf(spark, path, latest)
    if (sinceVersion <= 0) return readDirs(spark, path, latest, now, now)
    // a VACUUMED checkpoint fails with the contract named, not a raw
    // file-not-found — the consumer lagged past retention and must
    // re-bootstrap
    require(vs.contains(sinceVersion),
      s"ManifestTable.readSince: checkpoint ${vName(sinceVersion)} " +
        s"is not a committed snapshot at $path — vacuumed (lagged " +
        "past retention; re-bootstrap with sinceVersion = 0) or " +
        "never committed")
    val seen = entriesOf(spark, path, sinceVersion).map(_.dir).toSet
    // provenance across every retained intermediate version — vacuum
    // keeps a SUFFIX of versions, so if the checkpoint survived, so
    // did everything after it and the map is complete
    val prov: Map[String, Seq[String]] =
      vs.filter(v => v > sinceVersion)
        .flatMap(v => entriesOf(spark, path, v).map(e => e.dir -> e.sources))
        .toMap
    val memo = scala.collection.mutable.Map.empty[String, Boolean]
    def consumed(dir: String): Boolean = memo.get(dir) match {
      case Some(c) => c
      case None =>
        val c =
          if (seen.contains(dir)) true
          else prov.get(dir) match {
            case Some(srcs) if srcs.nonEmpty =>
              val cs = srcs.map(consumed)
              if (cs.forall(identity)) true
              else if (!cs.exists(identity)) false
              else sys.error(
                s"ManifestTable.readSince: $dir was rewritten from a " +
                  "MIX of consumed and unconsumed commits — table " +
                  "maintenance folded commits this consumer had not " +
                  "drained (drain to the current version before " +
                  "compact/deleteRange, or re-bootstrap with " +
                  "sinceVersion = 0)")
            case Some(_) => false // fresh append since the checkpoint
            case None => sys.error(
              s"ManifestTable.readSince: no provenance for $dir — its " +
                "commit was vacuumed; re-bootstrap with sinceVersion = 0")
          }
        memo.update(dir, c); c
    }
    readDirs(spark, path, latest, now, now.filterNot(e => consumed(e.dir)))
  }

  /** Row-level CHANGE-DATA-FEED between two snapshots, in
    * DELETE/INSERT normal form (the Delta-CDF shape a GDPR-following
    * consumer needs): every row the table GAINED in versions
    * `(sinceVersion, untilVersion]` arrives tagged
    * `_change_type = 'insert'`, every row it LOST `'delete'`, each
    * with the `_commit_version` that changed it — an in-place UPDATE
    * is its delete-preimage + insert-postimage pair at the same
    * version. `sinceVersion <= 0` bootstraps: the earliest retained
    * snapshot's rows arrive as inserts at that version, then the
    * diff steps follow.
    *
    * Where [[readSince]]'s append-only provenance fails LOUDLY on
    * any delete-shaped commit (mixed lineage), this read follows the
    * table through deleteRange / deleteKeys / dropPartitions /
    * update / merge / overwrite — and pure MAINTENANCE (compact,
    * cluster, Z-order), whose rewrites hold identical rows, emits
    * ZERO changes, exactly like readSince's provenance pass-through.
    *
    * Mechanism, per version step `v-1 → v`: fresh append dirs
    * (empty provenance) emit as inserts outright — no diff, the 100
    * TB common case costs what readSince costs; consumed, rewritten
    * and dv-changed dirs diff multiset-wise (pre = the removed/
    * dv-superseded dirs read at `v-1` signed +1, post = their rewrite
    * outputs at `v` signed -1, ONE `sum(_graft_sign)` aggregation over
    * all steps — semantically the per-step EXCEPT ALL pair, planned as a
    * single exchange that scans each step's dirs once), so the diff
    * cost scales with the dirs a commit actually TOUCHED, never the
    * table. Every intermediate version
    * must still be retained — vacuum keeps a suffix, so a surviving
    * checkpoint implies the chain, and a tagged-pin gap is loud.
    *
    * One documented roughness: a [[restore]] step re-references old
    * dirs as if freshly added, so rows that SURVIVED the rollback can
    * surface as a delete+insert pair at that version — spurious churn,
    * but delete-then-insert application (the CDC-apply contract)
    * still converges to the exact state. */
  /** Max change-feed sub-frames unioned into ONE plan before
    * [[readChanges]] collapses them with a localCheckpoint: caps the
    * analyzer/codegen tree at O(this) whatever the version span. ~3
    * frames arise per stepped version (delete/insert diff + fresh
    * appends), so 48 ≈ 16 versions of lag per collapse. */
  val ChangeUnionWidth: Int = 48

  def readChanges(spark: SparkSession, path: String, sinceVersion: Long,
      untilVersion: Long): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val all = versions(spark, path)
    require(all.contains(untilVersion),
      s"ManifestTable.readChanges: ${vName(untilVersion)} is not a " +
        s"committed snapshot at $path — never committed, or vacuumed " +
        "past the consumer's replay window")
    val schema = schemaOf(spark, path, untilVersion).getOrElse(sys.error(
      s"ManifestTable.readChanges: no schema sidecar at $path " +
        s"${vName(untilVersion)} — pre-sidecar tables have no change " +
        "feed"))
    // staging columns of the signed diff below: reserved, like merge's
    // _graft_src — a real column of the same name would be overwritten
    val signCol = "_graft_sign"
    val diffCol = "_graft_d"
    Seq(signCol, diffCol).foreach(rc =>
      require(!schema.fieldNames.contains(rc),
        s"ManifestTable.readChanges: column name '$rc' is reserved for " +
          "change-feed staging — rename the column"))
    // rows conform to the UNTIL schema: a column is located in the
    // step's frame BY FIELD ID first (so a rename mid-range maps old
    // rows onto the new name instead of nulling them), by name
    // otherwise, and additive evolution fills null
    def norm(df: DataFrame, atV: Long): DataFrame = {
      val stepById: Map[Long, String] =
        schemaOf(spark, path, atV).toSeq.flatMap(_.fields)
          .flatMap(f => fieldIdOf(f).map(_ -> f.name)).toMap
      df.select(schema.fields.map { f =>
        fieldIdOf(f).flatMap(stepById.get)
          .filter(df.columns.contains)
          .orElse(Some(f.name).filter(df.columns.contains)) match {
          case Some(src) => col(src).as(f.name)
          case None => lit(null).cast(f.dataType).as(f.name)
        }
      }.toSeq: _*)
    }
    def tag(df: DataFrame, ct: String, v: Long): DataFrame =
      df.withColumn("_change_type", lit(ct))
        .withColumn("_commit_version", lit(v))
    val start =
      if (sinceVersion <= 0) all.head
      else {
        require(all.contains(sinceVersion),
          s"ManifestTable.readChanges: checkpoint ${vName(sinceVersion)}" +
            s" is not a committed snapshot at $path — vacuumed (lagged " +
            "past retention; re-bootstrap with sinceVersion = 0) or " +
            "never committed")
        sinceVersion
      }
    val steps = all.filter(v => v > start && v <= untilVersion)
    var frames = Seq.empty[DataFrame]
    // Signed pre(+1)/post(-1) reads of the dirs each step touched,
    // version-tagged: ONE aggregation at the end computes every
    // step's delete/insert diff — `sum(_graft_sign)` grouped by (row,
    // version) is exactly the EXCEPT ALL pair this replaced
    // (delete multiplicity = max(d, 0), insert = max(-d, 0); rows
    // present on both sides with equal counts cancel), but each
    // step's pre/post dirs are scanned ONCE instead of twice and the
    // whole feed pays one exchange instead of two per stepped
    // version (guide §2.4).
    var signed = Seq.empty[DataFrame]
    if (sinceVersion <= 0) {
      val e0 = entriesOf(spark, path, start)
      frames :+= tag(norm(readDirs(spark, path, start, e0, e0), start),
        "insert", start)
    }
    var prevV = start
    var prevE = entriesOf(spark, path, prevV)
    steps.foreach { v =>
      require(v == prevV + 1,
        s"ManifestTable.readChanges: versions ${vName(prevV + 1)}.." +
          s"${vName(v - 1)} at $path were vacuumed out of the replay " +
          "window (a tagged pin survives vacuum but not its " +
          "neighbors) — the step diff needs every intermediate " +
          "version; re-bootstrap with sinceVersion = 0")
      val eNow = entriesOf(spark, path, v)
      val prevByDir = prevE.map(e => e.dir -> e).toMap
      val nowByDir = eNow.map(e => e.dir -> e).toMap
      val removed = prevE.filterNot(e => nowByDir.contains(e.dir))
      val added = eNow.filterNot(e => prevByDir.contains(e.dir))
      // a deleteKeys commit changes no dir set — only the pending
      // tombstone pointers: those dirs diff as pre(dv@v-1) vs
      // post(dv@v)
      val dvPrev = prevE.filter(e =>
        nowByDir.get(e.dir).exists(_.dv != e.dv))
      val dvNow = eNow.filter(e =>
        prevByDir.get(e.dir).exists(_.dv != e.dv))
      val fresh = added.filter(_.sources.isEmpty)
      val rewriteOut = added.filter(_.sources.nonEmpty)
      if (removed.nonEmpty || dvPrev.nonEmpty || rewriteOut.nonEmpty) {
        val pre = norm(readDirs(spark, path, v - 1, prevE,
          removed ++ dvPrev), v - 1)
        val post = norm(readDirs(spark, path, v, eNow,
          rewriteOut ++ dvNow), v)
        signed :+= pre.withColumn(signCol, lit(1L))
          .withColumn("_commit_version", lit(v))
        signed :+= post.withColumn(signCol, lit(-1L))
          .withColumn("_commit_version", lit(v))
      }
      if (fresh.nonEmpty)
        frames :+= tag(norm(readDirs(spark, path, v, eNow, fresh), v),
          "insert", v)
      // BOUND the union width: a long-lagged consumer (or a deep
      // graft_changes catch-up) would otherwise accumulate O(versions)
      // scan sub-plans into one analyzer/codegen tree that
      // blows up well before the data does. Every `ChangeUnionWidth`
      // frames, collapse what's accumulated into one materialized
      // frame (localCheckpoint truncates the lineage; the rows were
      // going to be read anyway) — plan width stays O(cap), total
      // work stays O(changed rows). The rate-limited stream source
      // caps versions per micro-batch and never gets here. The
      // signed buffer collapses BEFORE its aggregation, so the
      // checkpointed rows still carry (_graft_sign, _commit_version) and
      // the final diff is unchanged.
      if (frames.length >= ChangeUnionWidth)
        frames = Seq(frames.reduce(_ unionByName _).localCheckpoint())
      if (signed.length >= ChangeUnionWidth)
        signed = Seq(signed.reduce(_ unionByName _).localCheckpoint())
      prevV = v
      prevE = eNow
    }
    val diffed: Seq[DataFrame] =
      if (signed.isEmpty) Seq.empty
      else {
        import org.apache.spark.sql.functions.{abs, sum, when}
        val u = signed.reduce(_ unionByName _)
        val keys =
          schema.fields.map(f => col(f.name)).toSeq :+
            col("_commit_version")
        val d = u.groupBy(keys: _*)
          .agg(sum(col(signCol)).as(diffCol))
          .filter(col(diffCol) =!= 0L)
          .withColumn("_change_type",
            when(col(diffCol) > 0, lit("delete")).otherwise(lit("insert")))
        val outNames = schema.fields.map(_.name).toSeq ++
          Seq("_change_type", "_commit_version")
        // |d| copies per surviving (row, version) — the same
        // ReplicateRows generator Spark's own RewriteExceptAll plans,
        // so pathological duplicate multiplicity streams instead of
        // materializing an array
        val gen = org.apache.spark.sql.GraftSqlBridge.column(
          org.apache.spark.sql.catalyst.expressions.ReplicateRows(
            (abs(col(diffCol)) +: outNames.map(col)).map(
              org.apache.spark.sql.GraftSqlBridge.expression)))
        Seq(d.select(gen.as(outNames)))
      }
    val allFrames = frames ++ diffed
    if (allFrames.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(schema.fields ++ Seq(
          org.apache.spark.sql.types.StructField("_change_type",
            org.apache.spark.sql.types.StringType, nullable = false),
          org.apache.spark.sql.types.StructField("_commit_version",
            org.apache.spark.sql.types.LongType, nullable = false))))
    else allFrames.reduce(_ unionByName _)
  }

  /** The rewrite ops' shared OPTIMISTIC commit (the twin of
    * [[append]]'s retry loop, for ops that consume dirs): commit
    * "`consumed` dirs replaced by `produced` entries" on top of the
    * base snapshot, and on [[CommitConflictException]] REBASE onto
    * the new latest instead of failing — the staged data dirs were
    * written exactly once and are reused; a rebase costs one manifest
    * read + one metadata commit. This is the Delta/Iceberg
    * conflict-resolution shape: a rewrite conflicts with a concurrent
    * commit only when their EFFECTS overlap, which the manifest can
    * check —
    *
    *  - every consumed dir must still be referenced by the new latest
    *    (an interloper that rewrote or dropped one of our inputs
    *    invalidates our staged output — rebasing would resurrect rows
    *    it removed, or double-apply ours);
    *  - the persisted schema must be unchanged (a concurrent schema
    *    evolution would be silently regressed by our commit);
    *  - every dir the interlopers ADDED since our base snapshot must
    *    pass the op's `addedSafe` gate — deleteRange/merge prove
    *    (from recorded stats) that no added dir can contain rows
    *    their predicate/keys would have affected, so the rebased
    *    commit equals the serial order "our op, then theirs";
    *    cluster/compact accept any addition (fresh dirs simply ride
    *    along un-clustered — maintenance has no row-level effect).
    *
    * Any unprovable case re-throws the conflict: the caller retries
    * from scratch or backs off, and correctness never rides on a
    * guess. `retries = 0` (every op's default) keeps today's
    * single-writer behavior bit-for-bit. */
  private[graft] def commitRewrite(spark: SparkSession, path: String,
      op: String, baseV: Long, baseEntries: Seq[Entry],
      consumed: Set[String], produced: Seq[Entry], schema: StructType,
      opStats: Seq[String], opBlooms: Seq[String], retries: Int,
      addedSafe: Seq[Entry] => Boolean): Long = {
    require(retries >= 0, s"$op: retries must be >= 0, got $retries")
    val baseDirs = baseEntries.map(_.dir).toSet
    val baseCs = constraintsOf(spark, path, baseV)
    var attempt = 0
    var curV = baseV
    var curEntries = baseEntries
    while (true) {
      val v = curV + 1
      val (pStats, pBloom) = pruningOf(spark, path, curV)
      try {
        commit(spark, path, v,
          curEntries.filterNot(e => consumed(e.dir)) ++ produced, schema,
          prevTagOf(spark, path, Some(curV), curEntries),
          ((pStats ++ opStats).distinct, (pBloom ++ opBlooms).distinct),
          baseCs, op = op)
        return v
      } catch {
        case ex: CommitConflictException =>
          if (attempt >= retries) throw ex
          attempt += 1
          val latest = latestVersion(spark, path).getOrElse(throw ex)
          val latestEntries = entriesOf(spark, path, latest)
          val missing = consumed -- latestEntries.map(_.dir).toSet
          if (missing.nonEmpty) throw new CommitConflictException(
            s"ManifestTable.$op: cannot rebase onto ${vName(latest)} — " +
              s"a concurrent writer rewrote consumed dir(s) " +
              missing.toSeq.sorted.mkString(", "))
          // a concurrent deleteKeys MODIFIES a consumed entry in place
          // (same dir name, new tombstone ref — the one mutation that
          // keeps dir identity); our produced copy was derived from
          // the BASE entry, so committing it would silently drop the
          // interloper's deletion vector: conflict, never a guess
          val baseDv = baseEntries.map(e => e.dir -> e.dv).toMap
          val dvChanged = consumed.filter(d =>
            latestEntries.find(_.dir == d)
              .exists(_.dv != baseDv.getOrElse(d, Map.empty)))
          if (dvChanged.nonEmpty) throw new CommitConflictException(
            s"ManifestTable.$op: cannot rebase onto ${vName(latest)} — " +
              "a concurrent deleteKeys added tombstones to consumed " +
              s"dir(s) ${dvChanged.toSeq.sorted.mkString(", ")}")
          if (!schemaOf(spark, path, latest).forall(_ == schema))
            throw new CommitConflictException(
              s"ManifestTable.$op: cannot rebase onto ${vName(latest)}" +
                " — the table schema changed concurrently")
          // a concurrent constraint change would be silently
          // regressed (or our produced rows would dodge a validation
          // the new constraint set requires) — conflict, not rebase
          if (constraintsOf(spark, path, latest) != baseCs)
            throw new CommitConflictException(
              s"ManifestTable.$op: cannot rebase onto ${vName(latest)}" +
                " — the table constraints changed concurrently")
          val added = latestEntries.filterNot(e => baseDirs(e.dir))
          if (!addedSafe(added)) throw new CommitConflictException(
            s"ManifestTable.$op: cannot rebase onto ${vName(latest)} — " +
              "concurrently added dir(s) may contain rows this " +
              "operation would have affected (recorded stats cannot " +
              "prove disjointness)")
          curV = latest
          curEntries = latestEntries
      }
    }
    -1L // unreachable: the loop returns or the conflict propagates
  }

  /** ROLLBACK: commit a NEW version whose content, schema,
    * constraints, and pruning discipline are exactly those of
    * retained snapshot `toVersion` — Delta's `RESTORE TABLE ...
    * VERSION AS OF`, the incident-response move ("the deploy at v12
    * corrupted the table; put v11 back") that needs no data movement
    * at all: the new manifest simply references `toVersion`'s
    * immutable dirs, and because it is a new version, nothing
    * downstream rewinds — history keeps the bad commits visible, and
    * the exactly-once watermark stays MONOTONE (a batch applied
    * before the incident is still skipped after the restore; replay
    * ingest deliberately, not by accident). Fails loudly when
    * `toVersion` was vacuumed (its dirs may be gone — restoring a
    * dangling reference would corrupt the table). Restoring the
    * current version is a no-op returning it unchanged. */
  def restore(spark: SparkSession, path: String, toVersion: Long): Long = {
    val vs = versions(spark, path)
    val prev = vs.lastOption.getOrElse(
      sys.error(s"ManifestTable.restore: no committed version at $path"))
    if (toVersion == prev) return prev
    require(vs.contains(toVersion),
      s"ManifestTable.restore: ${vName(toVersion)} is not a retained " +
        s"snapshot at $path (never committed, or vacuumed — its data " +
        "dirs may already be reaped; restore reaches only retained " +
        "versions, like time travel)")
    val entries = entriesOf(spark, path, toVersion)
    val v = prev + 1
    commit(spark, path, v, entries,
      tableSchema(spark, path, toVersion, entries),
      // watermark from the CURRENT latest — the high-water mark of
      // everything ever applied, which a rollback must never regress
      prevTagOf(spark, path, Some(prev), entriesOf(spark, path, prev)),
      pruningOf(spark, path, toVersion),
      constraintsOf(spark, path, toVersion), op = "restore")
    v
  }

  /** OPTIMIZE-style clustered rewrite: repartition the CURRENT
    * snapshot's rows into `nDirs` RANGE-DISJOINT data dirs on an
    * integral `statsCol` and commit them as one new version, each dir
    * re-statted — the maintenance op that turns an arrival-ordered
    * (unprunable) table into one where a range predicate prunes to
    * ~1/nDirs of the data, from the manifest alone. Bucket bounds
    * come from approximate quantiles, so dirs are balanced under
    * skew. Like [[compact]] it is a metadata swap for readers (old
    * snapshots keep their dirs until [[vacuum]]) and provenance-
    * transparent to drained [[readSince]] consumers (every new dir's
    * sources are the full readable set — a full rewrite). Null keys
    * land in the first dir, whose stats stay correct (null never
    * contributes to min/max; a null-key probe is the caller's row
    * filter's job). Returns the new version; a table with no
    * readable data is a no-op. */
  def cluster(spark: SparkSession, path: String, statsCol: String,
      nDirs: Int, statsCols: Seq[String] = Nil,
      retries: Int = 0): Long =
    clusterOn(spark, path, "cluster", nDirs, Seq(statsCol), statsCols,
      _ => col(statsCol).cast("long"), retries)

  /** OPTIMIZE ZORDER BY: rewrite the CURRENT snapshot into `nDirs`
    * data dirs clustered on the Morton interleave of TWO integral
    * columns ([[graft.expressions.ZOrderValue]]) — each dir then
    * covers a near-square tile of the 2-D key space (~1/sqrt(nDirs)
    * of EACH column's range), so a selective range predicate on
    * EITHER column prunes dirs from the manifest stats alone, where
    * [[cluster]]'s single-axis sort serves only its lead column. The
    * 2-D twin of the q121 file layout, lifted to manifest-dir
    * granularity: dir-level pruning from one metadata read FIRST,
    * parquet row-group skipping inside the kept dirs second (rows are
    * also z-sorted within each dir). Same commit/provenance/vacuum
    * semantics as [[cluster]]. Null keys interleave as 0 on the null
    * axis — they land in a low tile whose recorded stats stay correct
    * (null never contributes to min/max). */
  def clusterZ(spark: SparkSession, path: String, colA: String,
      colB: String, nDirs: Int, statsCols: Seq[String] = Nil,
      retries: Int = 0): Long =
    clusterOn(spark, path, "clusterZ", nDirs, Seq(colA, colB), statsCols,
      retries = retries, orderOf = { current =>
        // fix the Z grid from the table's global per-column ranges
        val r = current.agg(
          min(col(colA).cast("long")), max(col(colA).cast("long")),
          min(col(colB).cast("long")), max(col(colB).cast("long"))).head()
        def lv(i: Int): Long = if (r.isNullAt(i)) 0L else r.getLong(i)
        org.apache.spark.sql.GraftSqlBridge.column(
          graft.expressions.ZOrderValue(
            org.apache.spark.sql.GraftSqlBridge.expression(
              coalesce(col(colA).cast("long"), lit(lv(0)))),
            org.apache.spark.sql.GraftSqlBridge.expression(
              coalesce(col(colB).cast("long"), lit(lv(2)))),
            lv(0), lv(1), lv(2), lv(3)))
      })

  /** The shared clustered-rewrite engine behind [[cluster]] (1-D
    * range) and [[clusterZ]] (2-D Morton): bucket the current
    * snapshot by quantiles of a LONG-valued clustering key, stage
    * with partitionBy (rows z/key-sorted within each staged dir, so
    * parquet footer pruning composes with the dir-level prune),
    * promote each staged dir by rename, re-stat, commit with full
    * provenance and the carried pruning discipline. */
  private def clusterOn(spark: SparkSession, path: String, op: String,
      nDirs: Int, keyCols: Seq[String], statsCols: Seq[String],
      orderOf: DataFrame => org.apache.spark.sql.Column,
      retries: Int = 0): Long = {
    require(nDirs >= 1, s"$op: nDirs must be >= 1")
    val (fs, _) = fsOf(spark, path)
    val prev = latestVersion(spark, path).getOrElse(
      sys.error(s"ManifestTable.$op: no committed version at $path"))
    val entries = entriesOf(spark, path, prev)
    val readable = entries.filter(e =>
      e.hasData(fs, s"$path/data/${e.dir}"))
    if (readable.isEmpty) return prev
    val schema = tableSchema(spark, path, prev, entries)
    keyCols.foreach(kc => schema.fields.find(_.name == kc).foreach { f =>
      require(isIntegral(f.dataType),
        s"ManifestTable.$op: '$kc' is " +
          s"${f.dataType.catalogString}, not an integral type")
    })
    // same reserved-name rule as merge's _graft_src: a real column
    // named like the staging columns would be overwritten then stripped
    Seq("_graft_bucket", "_graft_z").foreach(rc =>
      require(!schema.fieldNames.contains(rc),
        s"ManifestTable.$op: column name '$rc' is reserved for " +
          "rewrite staging — rename the column"))
    // dv-aware read: a clustered rewrite materializes pending
    // deletion vectors (every staged dir is re-statted exact below)
    val current = readableFrame(spark, path, schema, readable)
    val withZ = current.withColumn("_graft_z", orderOf(current))
    // quantile bucket bounds -> balanced dirs under any skew; the
    // bucket column drives partitionBy into per-bucket staging dirs
    // and is dropped from the data files by partitionBy itself
    val bounds =
      if (nDirs == 1) Array.empty[Double]
      else withZ.stat.approxQuantile("_graft_z",
        (1 until nDirs).map(_.toDouble / nDirs).toArray, 0.001)
    val bucket = bounds.foldLeft(lit(0)) { (acc, b) =>
      acc + when(col("_graft_z") >= lit(b.toLong), 1).otherwise(0)
    }
    val v = prev + 1
    val staging = s"$path/data/.cluster-${attemptDirName(v)}"
    withIdWriteConf(spark)(
      stampIds(spark,
        withZ.withColumn("_graft_bucket", coalesce(bucket, lit(0)))
          .repartition(col("_graft_bucket"))
          .sortWithinPartitions("_graft_z")
          .drop("_graft_z"), schema)
        .write.partitionBy("_graft_bucket")
        .mode("overwrite").parquet(staging))
    // promote each staged bucket dir to a first-class data dir
    val tag = readable.map(_.tag).foldLeft(-1L)(math.max)
    val statCols = ((statsCols ++ keyCols) ++
      readable.flatMap(e => e.statMin.keys ++ e.strMin.keys)).distinct
      // drop historic stat keys the current schema no longer has
      // (post-rename) — conservative, never a crash
      .filter(schema.fieldNames.contains)
    val newEntries = fs.listStatus(new org.apache.hadoop.fs.Path(staging))
      .filter(_.getPath.getName.startsWith("_graft_bucket="))
      .sortBy(_.getPath.getName)
      .map { st =>
        val dirName = attemptDirName(v)
        require(fs.rename(st.getPath,
          new org.apache.hadoop.fs.Path(s"$path/data/$dirName")),
          s"ManifestTable.$op: could not promote ${st.getPath}")
        val (mins, maxes, sMins, sMaxes, nulls, sums) =
          statsOf(spark, s"$path/data/$dirName", statCols)
        val fl = listDataFilesOf(fs, s"$path/data/$dirName")
        Entry(dirName, tag, mins, maxes, readable.map(_.dir),
          sMins, sMaxes, files = Some(fl),
          rows = rowsOf(spark, s"$path/data/$dirName", fl),
          nullCnt = nulls, sums = sums)
      }.toSeq
    fs.delete(new org.apache.hadoop.fs.Path(staging), true)
    // a clustered rewrite has no row-level effect, so ANY concurrent
    // addition is rebase-safe: fresh dirs simply ride along
    // un-clustered until the next maintenance pass
    commitRewrite(spark, path, op, prev, entries,
      entries.map(_.dir).toSet, newEntries, schema,
      (statsCols ++ keyCols).distinct, Nil, retries, _ => true)
  }

  /** Drop snapshots older than the newest `keepVersions` and delete
    * every data dir none of the kept snapshots references — crashed
    * appends AND losers of violated single-writer races included
    * (their unique attempt dirs are exactly the orphans this reaps).
    * Returns (manifests dropped, data dirs deleted). After vacuum,
    * time travel reaches only the kept versions — retention is this
    * ONE explicit knob. */
  private[sinks] def refName(name: String): String = {
    require(name.nonEmpty && name.forall(c => c.isLetterOrDigit ||
      c == '.' || c == '_' || c == '-'),
      s"ManifestTable: ref name '$name' must be [A-Za-z0-9._-]+ — it " +
        "becomes a directory entry")
    name
  }

  /** Create an immutable named TAG pinning snapshot `version` — the
    * reproducibility primitive: "training-run-06-12 read exactly this
    * data" survives any amount of later ingest AND [[vacuum]] (a
    * tagged snapshot is never dropped; its dirs are never reaped).
    * Tags are write-once (Iceberg's): re-tagging a name fails loudly
    * — delete + re-create is an explicit, auditable act. */
  def createTag(spark: SparkSession, path: String, name: String,
      version: Long): Unit = {
    val (fs, _) = fsOf(spark, path)
    require(versions(spark, path).contains(version),
      s"ManifestTable.createTag: ${vName(version)} is not a committed " +
        s"snapshot at $path")
    // the symmetric guard to createBranch's: the two ref families
    // have opposite mutability contracts, and `VERSION AS OF '<ref>'`
    // resolves by name — a shared name would make it ambiguous
    require(!branchNames(spark, path).contains(refName(name)),
      s"ManifestTable.createTag: '$name' is a BRANCH at $path — " +
        "branches are mutable refs; pick a different tag name")
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$path/refs"))
    val p = new org.apache.hadoop.fs.Path(s"$path/refs/${refName(name)}")
    // create(overwrite = false) is the atomic claim: a racing
    // create of the same tag loses loudly instead of moving the pin
    val out = fs.create(p, false)
    try out.write(version.toString.getBytes("UTF-8"))
    finally out.close()
  }

  /** All tags at `path` (name -> pinned version). */
  def tags(spark: SparkSession, path: String): Map[String, Long] = {
    val (fs, _) = fsOf(spark, path)
    val d = new org.apache.hadoop.fs.Path(s"$path/refs")
    if (!fs.exists(d)) Map.empty
    else fs.listStatus(d).flatMap { st =>
      readSideFile(fs, st.getPath)
        .flatMap(s => scala.util.Try(s.trim.toLong).toOption)
        .map(st.getPath.getName -> _)
    }.toMap
  }

  /** Time travel by NAME: the snapshot tag `name` pins. */
  def readTag(spark: SparkSession, path: String,
      name: String): DataFrame = {
    val v = tags(spark, path).getOrElse(name, sys.error(
      s"ManifestTable.readTag: no tag '$name' at $path — existing: " +
        tags(spark, path).keys.toSeq.sorted.mkString(", ")))
    readVersion(spark, path, v)
  }

  /** Remove a tag. The snapshot it pinned becomes reapable by the
    * next [[vacuum]] like any other old version. */
  def dropTag(spark: SparkSession, path: String, name: String): Unit = {
    val (fs, _) = fsOf(spark, path)
    fs.delete(new org.apache.hadoop.fs.Path(
      s"$path/refs/${refName(name)}"), false)
    ()
  }

  def vacuum(spark: SparkSession, path: String,
      keepVersions: Int = 1, tag: Long = -1L): (Int, Int) = {
    val r = vacuumDetailed(spark, path, keepVersions, tag)
    (r.manifestsDropped, r.dirsReaped)
  }

  /** [[vacuum]] addressed by TIME instead of version count: drop
    * every snapshot whose (monotonized) commit time is strictly
    * before `cutoffMillis`, always keeping at least the current
    * version — the retention-period knob (Delta's
    * `delta.logRetentionDuration` shape) an operator actually sets
    * ("keep 7 days"), where version counts only make sense at a known
    * commit cadence. Monotonized times mean the kept set is always a
    * SUFFIX, so this composes with every replay-window contract
    * ([[readSinceUntil]], the streaming source) exactly like
    * count-based vacuum. */
  def vacuumOlderThan(spark: SparkSession, path: String,
      cutoffMillis: Long, tag: Long = -1L): VacuumReport = {
    val tl = commitTimeline(spark, path)
    require(tl.nonEmpty,
      s"ManifestTable.vacuumOlderThan: no committed version at $path")
    vacuumDetailed(spark, path,
      math.max(1, tl.count(_._2 >= cutoffMillis)), tag)
  }

  /** [[vacuum]] returning the full reap accounting — callers that
    * report (the sinks' cadence logging) use this return value
    * directly, not the racy JVM-global convenience below. */
  def vacuumDetailed(spark: SparkSession, path: String,
      keepVersions: Int = 1, tag: Long = -1L,
      minAgeMillis: Long = 0L): VacuumReport = {
    require(keepVersions >= 1, "vacuum: must keep at least one version")
    val (fs, _) = fsOf(spark, path)
    val vs = versions(spark, path)
    val (drop0, keep0) = vs.splitAt(math.max(0, vs.size - keepVersions))
    // a TAGGED snapshot is pinned: its manifest survives and its dirs
    // stay referenced however old it is — dropping it would turn a
    // reproducibility pin into a dangling name. A live BRANCH pins
    // its BASE the same way: readBranch/fastForward resolve against
    // that snapshot, and reaping it would strand the branch (loud on
    // an unreadable base for the same never-guess rule as staged
    // candidates below)
    val branchPins = branchNames(spark, path).map { n =>
      try branchBase(spark, path, n)
      catch {
        case scala.util.control.NonFatal(e) => sys.error(
          s"ManifestTable.vacuum($path): cannot read branch '$n' " +
            s"base (${e.getMessage}) — aborting the vacuum rather " +
            "than reaping a live branch's fork point; retry once the " +
            "read succeeds, or abandonBranch explicitly")
      }
    }.toSet
    val tagged = tags(spark, path).values.toSet ++ branchPins
    val (pinned, drop) = drop0.partition(tagged)
    val keep = pinned ++ keep0
    val keptEntries = keep.flatMap(v => entriesOf(spark, path, v))
    // WAP staged candidates reference dirs no snapshot does yet —
    // they are NOT orphans while the candidate lives (abandonStaged
    // is what turns them into reapable ones). A candidate whose
    // manifest cannot be READ aborts the whole vacuum: defaulting a
    // LIVE candidate's reference set to empty on a transient IO
    // error would reap its data dirs, and a later publish would
    // commit entries pointing at deleted data — the one failure a
    // garbage collector must never have
    val stagedEntries = stagedNames(spark, path).flatMap { n =>
      try entriesAt(spark, s"$path/staged/$n")
      catch {
        case scala.util.control.NonFatal(e) => sys.error(
          s"ManifestTable.vacuum($path): cannot read staged " +
            s"candidate '$n' (${e.getMessage}) — aborting the vacuum " +
            "rather than treating a live candidate's dirs as " +
            "unreferenced; retry once the read succeeds, or " +
            "abandonStaged the candidate explicitly")
      }
    }
    // live BRANCH commits reference dirs the same way staged
    // candidates do — same loud rule on an unreadable commit
    val branchEntries = branchNames(spark, path).flatMap { n =>
      try branchCommits(fs, path, n).flatMap(c =>
        entriesAt(spark, resolvedCommitDir(fs, path, n, c)))
      catch {
        case scala.util.control.NonFatal(e) => sys.error(
          s"ManifestTable.vacuum($path): cannot read branch '$n' " +
            s"commits (${e.getMessage}) — aborting the vacuum rather " +
            "than treating a live branch's dirs as unreferenced; " +
            "retry once the read succeeds, or abandonBranch " +
            "explicitly")
      }
    }
    // `.dead-` teardown residue (a crashed consumeBranch) may hold
    // the only reference to an unpublished commit's dirs — pin them
    val deadEntries = deadBranchEntries(spark, path)
    val referenced =
      (keptEntries ++ stagedEntries ++ branchEntries ++ deadEntries)
        .map(_.dir).toSet
    // tombstone dirs survive while ANY kept snapshot's entry still
    // references them as a pending deletion vector; materialized or
    // rolled-off tombstones are orphans and reap with their versions
    val refTombs =
      (keptEntries ++ stagedEntries ++ branchEntries ++ deadEntries)
        .flatMap(_.dv.keys).toSet
    drop.foreach(v => fs.delete(
      new org.apache.hadoop.fs.Path(s"$path/manifest/${vName(v)}"), true))
    var bytes = 0L
    // the grace window for CONCURRENT writers: an append/stage writes
    // its data dirs BEFORE the commit/stage rename that references
    // them, so a vacuum racing that window would reap an in-flight
    // writer's dirs and let it commit entries pointing at nothing.
    // Under the default single-writer-per-table contract the window
    // cannot race (the writer IS the vacuum caller, between its own
    // commits) and minAgeMillis = 0 reaps everything unreferenced;
    // deployments running vacuum beside independent writers set it
    // above their longest write (Delta's retention-check shape) so a
    // young unreferenced dir is presumed in-flight, not orphaned.
    val cutoff = System.currentTimeMillis() - minAgeMillis
    def reap(root: org.apache.hadoop.fs.Path, keepIt: String => Boolean)
        : Int =
      if (!fs.exists(root)) 0
      else fs.listStatus(root).count { st =>
        val kept = keepIt(st.getPath.getName) ||
          (minAgeMillis > 0L && st.getModificationTime >= cutoff)
        if (!kept) {
          bytes += scala.util.Try(
            fs.getContentSummary(st.getPath).getLength).getOrElse(0L)
          fs.delete(st.getPath, true)
        }
        !kept
      }
    val removed =
      reap(new org.apache.hadoop.fs.Path(s"$path/data"), referenced) +
        reap(new org.apache.hadoop.fs.Path(s"$path/deletes"), refTombs)
    val report = VacuumReport(path, tag, drop.size, removed, bytes)
    lastVacuum.set(Some(report))
    report
  }

  /** One vacuum's reap accounting — what the streaming sinks' cadence
    * log line surfaces, so an operator can alarm on runaway orphan
    * creation (orphans at ingest rate = a writer violating the
    * single-writer contract, a symptom vacuum would otherwise clean
    * up invisibly). `batchTag` is the streaming batchId that triggered
    * the cadence vacuum (-1 for manual calls). */
  final case class VacuumReport(path: String, batchTag: Long,
      manifestsDropped: Int, dirsReaped: Int, bytesReaped: Long)

  private val lastVacuum =
    new java.util.concurrent.atomic.AtomicReference[Option[VacuumReport]](None)

  /** The most recent [[vacuum]]'s report (per-JVM; None until one
    * runs). */
  def lastVacuumReport: Option[VacuumReport] = lastVacuum.get()
}
