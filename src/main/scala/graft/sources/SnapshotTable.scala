package graft.sources

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.nio.charset.StandardCharsets
import java.util.UUID

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}

import scala.jdk.CollectionConverters._

/** Transactional parquet table with snapshot isolation — the engine's
  * substitute for the reference's Delta sink (`utils.scala:168-170`; no
  * Delta jar ships here). Same public design as the open table formats
  * (Delta/Iceberg): immutable data files + a totally-ordered chain of
  * version manifests, committed by an ATOMIC create-new of the next
  * version file. Readers resolve a manifest once and see that snapshot
  * forever — a concurrent overwrite/append can never tear a read, because
  * data files are immutable and only vacuum deletes them.
  *
  *   root/_manifests/v00000001.txt   version=..., op=..., schema=..., file=...
  *   root/_manifests/v00000002.txt   ... base=1, chain=1, add=..., remove=...
  *   root/data/<commit-uuid>-part-*.parquet
  *
  * Manifests come in two forms (the Delta-log checkpoint design): a
  * CHECKPOINT lists the full live-file set; a DELTA lists only its own
  * adds/removes against `base=`, so an append/compact commit writes
  * O(changed files) bytes regardless of table size. Chains are bounded:
  * every [[checkpointEvery]]-th commit rolls the chain up into a fresh
  * checkpoint, so resolving any version walks at most that many files.
  *
  * Commit protocol: stage part files under a per-commit UUID prefix, build
  * the manifest (overwrite/merge → checkpoint of staged files; append /
  * compact → delta), then hard-link the fully written manifest in as the
  * next version file. A losing concurrent committer gets
  * FileAlreadyExists, re-resolves the new head, rebuilds its delta (append
  * re-reads ONE raw manifest; overwrite needs nothing) and retries —
  * optimistic concurrency, winner decided by the filesystem's atomic link.
  *
  * Scale note: on a local/HDFS filesystem `Files.move` is a rename; the
  * manifest lists RELATIVE paths so the table directory is relocatable. A
  * 1000-executor deployment writes data files directly to the table's data
  * dir (no staging move) and commits the same manifest — the protocol is
  * the manifest chain, not the staging mechanics.
  */
object SnapshotTable {

  private def manifestDir(root: String): Path = Paths.get(root, "_manifests")
  private def dataDir(root: String): Path = Paths.get(root, "data")
  private def changesDir(root: String): Path = Paths.get(root, "_changes")
  private def deletesDir(root: String): Path = Paths.get(root, "_deletes")
  private def manifestPath(root: String, v: Int): Path =
    manifestDir(root).resolve(f"v$v%08d.txt")

  final case class Manifest(version: Int, op: String, schema: StructType,
      files: Seq[String],
      /** per-file numeric column envelopes: file → col → (min, max).
        * Keyed by PHYSICAL column name (the name in the parquet footers),
        * so envelopes recorded before a rename stay valid after it. */
      stats: Map[String, Map[String, (Double, Double)]] = Map.empty,
      /** DELETION VECTORS (merge-on-read): data file → position-sidecar
        * files under `_deletes/` whose (file_name, pos) rows mark logically
        * deleted row indexes. A file without an entry has no deletes. */
      dvs: Map[String, Seq[String]] = Map.empty,
      /** COLUMN MAPPING (the Delta name-mode column-mapping feature):
        * logical name → physical parquet name for every column that has
        * been renamed. Columns never renamed are absent (physical =
        * logical). Writers stage under physical names; readers scan
        * physical and alias back — so a RENAME is one metadata commit,
        * zero file rewrites, and every old file stays readable. */
      colmap: Map[String, String] = Map.empty)

  /** One manifest FILE as written, without chain resolution: a CHECKPOINT
    * lists the full live-file set (`file=` lines, `base` absent); a DELTA
    * records only this commit's `add=`/`remove=` lines against `base`,
    * with `chain` = hops back to the nearest checkpoint. Delta commits
    * make commit cost O(changed files) instead of O(table files) — the
    * manifest-scalability fix: at millions of live files a full rewrite
    * per append is a driver and listing bottleneck. `checkpointEvery`
    * bounds the read-side walk: every `chain` ≥ that rolls up into a new
    * checkpoint (the Delta-log checkpoint design). */
  private[sources] final case class RawManifest(version: Int, op: String,
      schema: StructType, base: Option[Int], chain: Int, files: Seq[String],
      adds: Seq[String], removes: Set[String],
      stats: Map[String, Map[String, (Double, Double)]],
      /** row-level change files under _changes/ for THIS commit (Delta-CDF
        * `cdc` actions): present only when the writer opted into
        * changeCapture on a merge/delete. */
      cdc: Seq[String] = Nil,
      /** deletion-vector entries of THIS manifest file: in a checkpoint,
        * the full live map; in a delta, per-file REPLACEMENTS (a writer
        * that extends a file's vector unions the old positions into the
        * new sidecar, so replacement semantics keep resolution O(lines)). */
      dvSet: Map[String, Seq[String]] = Map.empty,
      /** application transaction markers of THIS commit (the Delta
        * `SetTransaction` action): arbitrary key→value pairs a writer
        * stamps ATOMICALLY with its change, so "which input version has
        * this derived table folded through" survives any crash — the
        * exactly-once anchor for incremental-view maintenance. */
      txn: Map[String, String] = Map.empty,
      /** the FULL logical→physical column mapping as of this commit
        * (every manifest echoes the whole map — it is column-count-sized,
        * so delta-commit O(changed files) cost is unaffected). */
      colmap: Map[String, String] = Map.empty)

  /** Delta-chain length at which the next commit writes a checkpoint. */
  private[sources] val checkpointEvery = 20

  /** `Files.list` with guaranteed close — the returned stream holds an open
    * directory fd until closed; leaking one per commit exhausts the limit. */
  private def listDir[A](dir: Path)(f: Iterator[Path] => A): A = {
    val s = Files.list(dir)
    try f(s.iterator().asScala) finally s.close()
  }

  /** Largest committed version, 0 if none. */
  def latestVersion(root: String): Int = {
    val dir = manifestDir(root)
    if (!Files.isDirectory(dir)) 0
    else listDir(dir)(_.map(_.getFileName.toString)
      .collect { case s if s.startsWith("v") && s.endsWith(".txt") =>
        s.stripPrefix("v").stripSuffix(".txt").toInt }
      .foldLeft(0)(math.max))
  }

  // ------------------------------------------------------------------
  // CHECK constraints (Delta parity, table-scoped): stored as
  // `name;sqlExpr` lines in `_manifests/_checks.txt`, replaced
  // atomically. The enforced invariant is inductive — adding a
  // constraint validates the WHOLE current table, and every subsequent
  // writer validates only its INCOMING/REWRITTEN rows before staging —
  // so the full table always satisfies the active set without any
  // write-time full scans. Unlike Delta the set is not versioned with
  // the commits (a time-traveled read reflects today's constraints,
  // documented trade-off for not threading them through every commit
  // path).
  // ------------------------------------------------------------------

  private def checksPath(root: String): Path =
    manifestDir(root).resolve("_checks.txt")

  /** Active CHECK constraints: name → SQL boolean expression. */
  def checkConstraints(root: String): Map[String, String] = {
    val p = checksPath(root)
    if (!Files.exists(p)) Map.empty
    else Files.readAllLines(p, StandardCharsets.UTF_8).asScala
      .filter(_.nonEmpty).map(_.split(";", 2))
      .collect { case Array(n, e) => n -> e }.toMap
  }

  private def writeChecks(root: String, checks: Map[String, String]): Unit = {
    Files.createDirectories(manifestDir(root))
    val tmp = manifestDir(root).resolve(s"_checks.${UUID.randomUUID()}.tmp")
    Files.write(tmp, checks.toSeq.sortBy(_._1)
      .map { case (n, e) => s"$n;$e" }.mkString("\n")
      .getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, checksPath(root), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** Add a CHECK constraint. The CURRENT table is validated first — a
    * violated constraint is refused with the violation count (the Delta
    * `ALTER TABLE ADD CONSTRAINT` contract), so the invariant "table
    * always satisfies the active set" holds from the moment of adding. */
  def addCheckConstraint(spark: SparkSession, root: String, name: String,
      sqlExpr: String): Unit = {
    require(!name.contains(";") && !name.contains("\n"),
      s"bad constraint name '$name'")
    require(!sqlExpr.contains("\n"), "constraint expression must be one line")
    if (latestVersion(root) > 0) {
      val bad = read(spark, root)
        .where(org.apache.spark.sql.functions.not(
          org.apache.spark.sql.functions.coalesce(
            org.apache.spark.sql.functions.expr(sqlExpr),
            org.apache.spark.sql.functions.lit(false))))
        .count()
      require(bad == 0,
        s"cannot add CHECK $name ($sqlExpr): $bad existing rows violate it")
    }
    writeChecks(root, checkConstraints(root) + (name -> sqlExpr))
  }

  /** Drop a CHECK constraint by name (absent names are a no-op). */
  def dropCheckConstraint(root: String, name: String): Unit =
    writeChecks(root, checkConstraints(root) - name)

  private def gencolsPath(root: String): Path =
    manifestDir(root).resolve("_gencols.txt")

  /** Active GENERATED columns: name → SQL expression (the Delta
    * `GENERATED ALWAYS AS` surface). A writer that omits the column gets
    * it materialized from the expression; a writer that supplies it is
    * validated value-by-value against the expression — the two paths
    * keep one invariant: the stored column ALWAYS equals its formula. */
  def generatedColumns(root: String): Map[String, String] = {
    val p = gencolsPath(root)
    if (!Files.exists(p)) Map.empty
    else Files.readAllLines(p, StandardCharsets.UTF_8).asScala
      .filter(_.nonEmpty).map(_.split(";", 2))
      .collect { case Array(n, e) => n -> e }.toMap
  }

  private def writeGencols(root: String, gens: Map[String, String]): Unit = {
    Files.createDirectories(manifestDir(root))
    val tmp = manifestDir(root).resolve(s"_gencols.${UUID.randomUUID()}.tmp")
    Files.write(tmp, gens.toSeq.sortBy(_._1)
      .map { case (n, e) => s"$n;$e" }.mkString("\n")
      .getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, gencolsPath(root), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** Register `name` as GENERATED ALWAYS AS `sqlExpr`. The column must
    * already exist in the table schema and every current row must equal
    * the expression (null-safe) — the inductive base that makes the
    * write-time enforcement an invariant, exactly like
    * [[addCheckConstraint]]'s contract. */
  def addGeneratedColumn(spark: SparkSession, root: String, name: String,
      sqlExpr: String): Unit = {
    require(!name.contains(";") && !name.contains("\n"), s"bad column name '$name'")
    require(!sqlExpr.contains("\n"), "generation expression must be one line")
    require(latestVersion(root) > 0,
      "register generated columns on a written table (the first write " +
        "pins the schema the expression is checked against)")
    import org.apache.spark.sql.functions.{expr, not, col => fcol}
    val head = readRaw(root, latestVersion(root))
    require(head.schema.fieldNames.contains(name),
      s"no column '$name' in ${head.schema.fieldNames.mkString(",")}")
    val bad = read(spark, root).where(not(fcol(name) <=> expr(sqlExpr))).count()
    require(bad == 0,
      s"cannot register generated column $name AS ($sqlExpr): " +
        s"$bad existing rows differ from the expression")
    writeGencols(root, generatedColumns(root) + (name -> sqlExpr))
  }

  /** Drop a generated-column registration (absent names are a no-op). */
  def dropGeneratedColumn(root: String, name: String): Unit =
    writeGencols(root, generatedColumns(root) - name)

  /** Materialize omitted generated columns and validate supplied ones —
    * run on every writer's incoming rows before staging. */
  private def applyGenerated(df: DataFrame, root: String): DataFrame = {
    import org.apache.spark.sql.functions.{expr, not, col => fcol}
    generatedColumns(root).foldLeft(df) { case (d, (name, e)) =>
      if (!d.columns.contains(name)) d.withColumn(name, expr(e))
      else {
        val bad = d.where(not(fcol(name) <=> expr(e))).limit(1).count()
        require(bad == 0,
          s"generated column $name must equal ($e); incoming data differs")
        d
      }
    }
  }

  /** Validate `df` (a writer's incoming or rewritten rows) against the
    * active constraint set; throws naming the first violated constraint.
    * NULL evaluations violate, matching Delta CHECK semantics. */
  private def validateChecks(df: DataFrame, root: String): Unit = {
    val checks = checkConstraints(root)
    checks.foreach { case (name, e) =>
      val bad = df.where(org.apache.spark.sql.functions.not(
          org.apache.spark.sql.functions.coalesce(
            org.apache.spark.sql.functions.expr(e),
            org.apache.spark.sql.functions.lit(false))))
        .limit(1).count()
      require(bad == 0,
        s"CHECK constraint $name ($e) violated by incoming data")
    }
  }

  /** Newest committed value for application-transaction key `key` (the
    * Delta `txn` lookup): walks manifests head→1 and returns the first
    * commit carrying the key as (version, value), or None. A writer that
    * stamps its derived-table commit with the input version it consumed
    * reads its own watermark back here — crash-safe because the stamp and
    * the change share one atomic manifest create. O(versions-since-last-
    * stamp) raw parses; a maintenance loop that stamps every fold keeps
    * the walk O(1)-ish. */
  def lastTxn(root: String, key: String): Option[(Int, String)] = {
    var v = latestVersion(root)
    while (v > 0) {
      readRaw(root, v).txn.get(key) match {
        case Some(value) => return Some((v, value))
        case None => v -= 1
      }
    }
    None
  }

  /** Parse ONE manifest file — no chain resolution, O(its own lines). */
  private[sources] def readRaw(root: String, version: Int): RawManifest = {
    val lines = Files.readAllLines(manifestPath(root, version),
      StandardCharsets.UTF_8).asScala
    def field(k: String) = lines.collect {
      case l if l.startsWith(k + "=") => l.drop(k.length + 1) }
    // stats lines: stats=<file>;<col>;<min>;<max> — unknown keys are
    // ignored by construction, so older manifests read fine
    val stats = field("stats").toSeq
      .map(_.split(";", 4))
      .collect { case Array(f, c, mn, mx) => (f, c, mn.toDouble, mx.toDouble) }
      .groupBy(_._1)
      .map { case (f, xs) => f -> xs.map(x => x._2 -> (x._3, x._4)).toMap }
    RawManifest(
      field("version").head.toInt,
      field("op").head,
      DataType.fromJson(field("schema").head).asInstanceOf[StructType],
      field("base").headOption.map(_.toInt),
      field("chain").headOption.map(_.toInt).getOrElse(0),
      field("file").toSeq,
      field("add").toSeq,
      field("remove").toSet,
      stats,
      field("cdc").toSeq,
      // dv lines: dv=<datafile>;<sidecar> — several sidecars per file allowed
      field("dv").toSeq.map(_.split(";", 2))
        .collect { case Array(f, s) => (f, s) }
        .groupBy(_._1).map { case (f, xs) => f -> xs.map(_._2).toSeq },
      // txn lines: txn=<key>;<value> — the value may itself contain ';'
      field("txn").toSeq.map(_.split(";", 2))
        .collect { case Array(k, v) => k -> v }.toMap,
      // colmap lines: colmap=<logical>;<physical>
      field("colmap").toSeq.map(_.split(";", 2))
        .collect { case Array(l, p) => l -> p }.toMap)
  }

  /** Resolve a version's LIVE STATE: walk back through delta manifests to
    * the nearest checkpoint (≤ [[checkpointEvery]] hops), then replay the
    * adds/removes forward. Schema and op come from the requested version's
    * own manifest (each version pins its schema — evolution-safe). */
  def readManifest(root: String, version: Int): Manifest = {
    val head = readRaw(root, version)
    var back = List(head)
    while (back.head.base.isDefined)
      back = readRaw(root, back.head.base.get) :: back
    val cp = back.head // the checkpoint: full file list
    var files = cp.files
    var stats = cp.stats
    var dvs = cp.dvSet
    back.tail.foreach { d =>
      files = files.filterNot(d.removes) ++ d.adds
      stats = (stats -- d.removes) ++ d.stats
      // a removed file's vector dies with it; a delta's entries REPLACE
      dvs = (dvs -- d.removes) ++ d.dvSet
    }
    Manifest(head.version, head.op, head.schema, files, stats, dvs, head.colmap)
  }

  /** Write `df` into the table. `mode` ∈ {"overwrite", "append"}. Returns
    * the committed version.
    *
    * `statsCols` (numeric columns) records each staged file's min/max
    * envelope in the manifest — read from the parquet FOOTERS the write
    * already produced, no data re-scan — so [[readPruned]] can skip files
    * whose envelope misses a predicate (the Iceberg/Delta file-skipping
    * design; compose with [[graft.ops.Layout.zorder]] so the envelopes
    * are tight on every clustered dimension at once).
    *
    * `mergeSchema` (append only): fields the table has and `df` lacks, or
    * vice versa, UNION into the committed manifest schema (same-name
    * fields must agree on type) — parquet readers backfill missing
    * columns with NULL, so old files read fine under the evolved schema
    * and old manifests still time-travel with their own schema. Without
    * the flag, an append whose fields differ from the table's is refused
    * (silent column loss is the failure mode this guards). */
  def write(df0: DataFrame, root: String, mode: String = "overwrite",
      statsCols: Seq[String] = Nil, mergeSchema: Boolean = false,
      txn: Map[String, String] = Map.empty): Int = {
    require(mode == "overwrite" || mode == "append", s"bad mode $mode")
    // generated columns: omitted → materialized, supplied → validated
    val df = applyGenerated(df0, root)
    validateChecks(df, root)
    // an overwrite replaces every file, so it RESETS the column mapping
    // (new files carry logical names); appends write under the current map
    val cm = if (mode == "overwrite") Map.empty[String, String]
      else currentColmap(root)
    if (mode == "append" && cm.nonEmpty) {
      // a NEW logical name may not shadow a physical name another column
      // borrowed through a rename (staging would alias on-file data) —
      // checked BEFORE staging for a clean refusal
      val tableNames = readRaw(root, latestVersion(root)).schema.fieldNames.toSet
      df.schema.fieldNames.filterNot(tableNames)
        .foreach(f => require(!cm.values.exists(_ == f),
          s"new column '$f' collides with a renamed column's physical name"))
    }
    val staged = if (mode == "overwrite") stageUnmapped(df, root)
      else stage(df, root)
    val stagedStats = footerStats(root, staged, statsCols, cm)
    // commit: atomic create-new of the next version; losers re-base. An
    // overwrite loser needs nothing at all; an append loser re-reads only
    // the new HEAD manifest (O(1) raw parse — its own rows are position-
    // independent and the delta lists just its adds).
    var committed = -1
    while (committed < 0) {
      val base = latestVersion(root)
      committed =
        if (mode == "overwrite" || base == 0)
          tryCommit(root, base, mode, df.schema.json, staged, stagedStats,
            txn = txn)
        else {
          val head = readRaw(root, base)
          val schemaJson = unionSchema(head.schema, df.schema, mergeSchema).json
          // a NEW logical name may not shadow a physical name another
          // column borrowed through a rename (it would alias on-file data)
          df.schema.fieldNames.filterNot(head.schema.fieldNames.toSet)
            .foreach(f => require(!head.colmap.values.exists(_ == f),
              s"new column '$f' collides with a renamed column's physical name"))
          commitChange(root, head, "append", schemaJson,
            adds = staged, removes = Set.empty, addStats = stagedStats,
            txn = txn)
        }
    }
    committed
  }

  /** Commit `adds`/`removes` against head raw manifest `base` as a DELTA,
    * or roll the chain up into a CHECKPOINT when it has reached
    * [[checkpointEvery]] (one full resolution, amortized O(1/interval)).
    * Same -1-on-race contract as [[tryCommit]]. */
  private def commitChange(root: String, base: RawManifest, op: String,
      schemaJson: String, adds: Seq[String], removes: Set[String],
      addStats: Map[String, Map[String, (Double, Double)]],
      cdc: Seq[String] = Nil,
      dvSet: Map[String, Seq[String]] = Map.empty,
      txn: Map[String, String] = Map.empty,
      colmap: Map[String, String] = null): Int = {
    // null = inherit the base commit's column mapping (every op except a
    // rename); a rename passes its updated map explicitly
    val cm = Option(colmap).getOrElse(base.colmap)
    if (base.chain + 1 >= checkpointEvery) {
      val m = readManifest(root, base.version)
      tryCommit(root, base.version, op, schemaJson,
        m.files.filterNot(removes) ++ adds, (m.stats -- removes) ++ addStats,
        cdc, (m.dvs -- removes) ++ dvSet, txn, cm)
    } else
      tryCommitDelta(root, base.version, op, schemaJson, adds, removes,
        addStats, base.chain + 1, cdc, dvSet, txn, cm)
  }

  /** Evolved schema for an append: table fields first (order-stable),
    * then `df`'s new fields. Same-name fields must agree on type; field
    * sets may only differ when `allowEvolution` is set. */
  private def unionSchema(table: StructType, incoming: StructType,
      allowEvolution: Boolean): StructType = {
    val tableNames = table.fieldNames.toSet
    val incomingNames = incoming.fieldNames.toSet
    incoming.fields.foreach { f =>
      table.fields.find(_.name == f.name).foreach { t =>
        require(t.dataType == f.dataType,
          s"append changes type of '${f.name}': ${t.dataType} -> ${f.dataType}")
      }
    }
    if (tableNames == incomingNames) table
    else {
      require(allowEvolution,
        s"append schema differs from the table's (missing: " +
          s"${(tableNames -- incomingNames).mkString(",")}; new: " +
          s"${(incomingNames -- tableNames).mkString(",")}) — pass " +
          "mergeSchema = true to evolve, the Delta semantics")
      StructType(table.fields ++ incoming.fields.filterNot(f => tableNames(f.name)))
    }
  }

  /** Per-file numeric min/max from the parquet footers (row-group
    * statistics folded per file) — metadata reads only. Columns without
    * usable stats are simply absent, which [[readPruned]] treats as
    * "cannot prune" (safe). */
  private def footerStats(root: String, files: Seq[String],
      statsCols0: Seq[String], colmap: Map[String, String] = Map.empty)
      : Map[String, Map[String, (Double, Double)]] = {
    // envelopes live under PHYSICAL names (the names in the footers), so
    // they survive renames; logical requests translate here once
    val statsCols = statsCols0.map(c =>
      if (c == rowsKey) c else physName(colmap, c))
    if (statsCols.isEmpty) Map.empty
    else files.map { name =>
      val path = new org.apache.hadoop.fs.Path(dataDir(root).resolve(name).toUri)
      val in = org.apache.parquet.hadoop.util.HadoopInputFile
        .fromPath(path, new org.apache.hadoop.conf.Configuration())
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try {
        val blocks = reader.getFooter.getBlocks.asScala
        // exact per-file row count from the footer, stored as a degenerate
        // envelope under the reserved pseudo-column — rides every stats
        // machinery (delta commits, checkpoint rollups, compact/delete
        // re-derivation) with no manifest format change, and feeds
        // [[fastStats]]' metadata-only aggregates
        val rowCount = blocks.map(_.getRowCount).sum.toDouble
        name -> (statsCols.filterNot(_ == rowsKey).flatMap { c =>
          val perBlock = blocks.flatMap { b =>
            b.getColumns.asScala
              .find(_.getPath.toDotString == c)
              .map(_.getStatistics)
              .filter(s => s != null && !s.isEmpty && s.hasNonNullValue)
              .flatMap { s =>
                (s.genericGetMin, s.genericGetMax) match {
                  case (mn: Number, mx: Number) =>
                    Some((mn.doubleValue(), mx.doubleValue()))
                  case (mn: org.apache.parquet.io.api.Binary,
                        mx: org.apache.parquet.io.api.Binary) =>
                    // string/binary columns: order-preserving 6-byte prefix
                    // key (see [[prefixKey]]) — byte-lexicographic order is
                    // exactly the order parquet ranks binary stats by, so
                    // [key(min), key(max)] is a safe envelope even when the
                    // footer truncated the values (truncation keeps min a
                    // lower and max an upper bound)
                    Some((prefixKeyBytes(mn.getBytes), prefixKeyBytes(mx.getBytes)))
                  case _ => None // other stat types: no envelope
                }
              }
          }
          if (perBlock.isEmpty || perBlock.size != blocks.size) None
          else Some(c -> (perBlock.map(_._1).min, perBlock.map(_._2).max))
        }.toMap + (rowsKey -> (rowCount, rowCount)))
      } finally reader.close()
    }.toMap
  }

  /** Reserved stats pseudo-column carrying each file's exact footer row
    * count as a degenerate (n, n) envelope. */
  val rowsKey: String = "__rows"

  /** Metadata-only aggregates — the Delta "answer COUNT(*)/MIN/MAX from
    * the log" optimization: (rowCount, min, max per requested column)
    * computed purely from the manifest's per-file envelopes, NO data scan.
    * Exact because envelopes are footer truth per live file and
    * copy-on-write writers re-derive them on every rewrite. Returns None —
    * caller falls back to a real scan — when any live file lacks a row
    * count or a requested column's envelope, or carries a deletion vector
    * (a DV shrinks a file's live rows/range below its footer stats).
    * Non-numeric columns are refused by type: their envelopes are lossy
    * [[prefixKey]] values, not extrema. Cost: O(live files) manifest
    * arithmetic on the driver. */
  def fastStats(root: String, cols: Seq[String],
      version: Option[Int] = None): Option[(Long, Map[String, (Double, Double)])] = {
    val v = version.getOrElse(latestVersion(root))
    require(v > 0, s"snapshot table at $root has no committed version")
    val m = readManifest(root, v)
    cols.foreach { c =>
      val f = m.schema.fields.find(_.name == c)
      require(f.exists(_.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType]),
        s"fastStats: '$c' is not a numeric table column — string envelopes " +
          "are lossy prefix keys, not extrema; scan for those")
    }
    if (m.files.isEmpty) return Some((0L, cols.map(c => c -> (Double.NaN, Double.NaN)).toMap))
    val complete = m.dvs.isEmpty && m.files.forall { f =>
      m.stats.get(f).exists(s =>
        s.contains(rowsKey) && cols.forall(c => s.contains(physName(m.colmap, c))))
    }
    if (!complete) None
    else {
      val perFile = m.files.map(m.stats)
      val n = perFile.map(_(rowsKey)._1).sum.toLong
      val agg = cols.map { c =>
        val envs = perFile.map(_(physName(m.colmap, c)))
        c -> (envs.map(_._1).min, envs.map(_._2).max)
      }.toMap
      Some((n, agg))
    }
  }

  /** Order-preserving numeric key of a string's first 6 UTF-8 bytes: the
    * unsigned 48-bit big-endian integer, exact in a Double. Non-strictly
    * monotone in byte-lexicographic order (s ≤ t ⇒ key(s) ≤ key(t)), which
    * makes [key(fileMin), key(fileMax)] a SAFE pruning envelope for string
    * columns inside the existing numeric stats machinery: a file can
    * contain value v only if key(v) lands inside its envelope. Categorical
    * file skipping — `readPruned(…, "lang", prefixKey("en"), prefixKey("en"))`
    * scans only the files whose range could hold 'en' — is the
    * partition-pruning analog for stats-clustered tables; 6-byte
    * resolution only ever costs extra kept files, never correctness. */
  def prefixKey(s: String): Double =
    prefixKeyBytes(s.getBytes(StandardCharsets.UTF_8))

  private def prefixKeyBytes(bs: Array[Byte]): Double = {
    var v = 0L
    var i = 0
    while (i < 6) {
      v = (v << 8) | (if (i < bs.length) bs(i) & 0xffL else 0L)
      i += 1
    }
    v.toDouble
  }

  /** Read the latest (or pinned) snapshot keeping only files whose
    * recorded [min, max] envelope on `col` intersects [lo, hi]; files
    * without an envelope are always kept (safe). The relational filter is
    * still the caller's job — this prunes I/O, not rows. Returns the
    * pruned frame plus (filesKept, filesTotal) for observability. */
  def readPruned(spark: SparkSession, root: String, col: String,
      lo: Double, hi: Double, version: Option[Int] = None): (DataFrame, (Int, Int)) = {
    val v = version.getOrElse(latestVersion(root))
    require(v > 0, s"snapshot table at $root has no committed version")
    val m = readManifest(root, v)
    val kept = m.files.filter { f =>
      m.stats.get(f).flatMap(_.get(physName(m.colmap, col))) match {
        case Some((mn, mx)) => mx >= lo && mn <= hi
        case None => true
      }
    }
    // envelopes are over-approximations after a merge-on-read delete (the
    // vector can only shrink a file's live range) — pruning stays safe
    (readFiles(spark, root, m, kept), (kept.size, m.files.size))
  }

  /** Delta-style MERGE (upsert): rows of `updates` REPLACE current rows
    * sharing the same `keyCols` values; unmatched update rows insert. One
    * new version per call; the full merged snapshot is rewritten (the
    * simple, always-correct copy-on-write — file-level pruning of
    * untouched files is a layout optimization on top of the same commit
    * protocol, not a different protocol).
    *
    * Unlike append, a merge's CONTENT depends on the base snapshot, so a
    * loser of the optimistic race must RE-READ the new head and recompute
    * the merged frame before retrying — re-basing just the file list (the
    * append rule) would silently resurrect overwritten rows. That
    * read-merge-stage-commit loop is the serializable-upsert contract the
    * open table formats document; raced merges on disjoint keys both
    * survive (SnapshotTableSpec pins it). */
  def merge(updates0: DataFrame, root: String, keyCols: Seq[String],
      mergeSchema: Boolean = false, statsCols: Seq[String] = Nil,
      changeCapture: Boolean = false,
      txn: Map[String, String] = Map.empty): Int = {
    require(keyCols.nonEmpty, "merge needs at least one key column")
    import org.apache.spark.sql.functions.{col => fcol, lit}
    val spark = updates0.sparkSession
    // only update rows can introduce new values; kept rows passed their
    // own writer's validation (the inductive CHECK/generated invariant)
    val updates = applyGenerated(updates0, root)
    validateChecks(updates, root)
    var committed = -1
    while (committed < 0) {
      val base = latestVersion(root)
      val (merged, baseStatsCols, changes) =
        if (base == 0) (updates, Set.empty[String], None)
        else {
          val m = readManifest(root, base)
          // same evolution contract as append: field drift is refused
          // unless flagged, then the union schema applies and unionByName
          // backfills NULL on either side
          unionSchema(m.schema, updates.schema, mergeSchema)
          val current = read(spark, root, Some(base))
          val keys = updates.select(keyCols.map(fcol): _*).distinct()
          val keep = current.join(keys, keyCols, "left_anti")
          // row-level change capture (Delta CDF): the rows this merge
          // REPLACES leave as update_preimage, their replacements arrive
          // as update_postimage, and key-unmatched update rows as insert.
          // Computed from the same base snapshot the merge itself reads,
          // so a recomputed retry (lost race) recaptures consistently.
          val changeDf =
            if (!changeCapture) None
            else {
              val curKeys = current.select(keyCols.map(fcol): _*).distinct()
              val pre = current.join(keys, keyCols, "left_semi")
                .withColumn("_change_type", lit("update_preimage"))
              val post = updates.join(curKeys, keyCols, "left_semi")
                .withColumn("_change_type", lit("update_postimage"))
              val ins = updates.join(curKeys, keyCols, "left_anti")
                .withColumn("_change_type", lit("insert"))
              Some(pre.unionByName(post, allowMissingColumns = mergeSchema)
                .unionByName(ins, allowMissingColumns = mergeSchema))
            }
          (keep.unionByName(updates, allowMissingColumns = mergeSchema),
            // a merge rewrites every file, so the base's envelopes can't
            // carry over by file name — re-derive them for the staged
            // files over the SAME column set, so a stats-pruned table
            // keeps its readPruned skipping across upserts
            m.stats.valuesIterator.flatMap(_.keysIterator).toSet,
            changeDf)
        }
      val cols = (baseStatsCols ++ statsCols).toSeq.sorted
      val staged = stage(merged, root)
      val cdcStaged = changes.map(stageChanges(_, root)).getOrElse(Nil)
      val cm = if (base == 0) Map.empty[String, String]
        else readRaw(root, base).colmap
      committed = tryCommit(root, base, "merge", merged.schema.json, staged,
        footerStats(root, staged, cols, cm), cdcStaged, txn = txn, colmap = cm)
      // lost the race: the staged files stay orphaned in data/ (and
      // _changes/) until [[vacuum]] — no manifest references them, same
      // as any aborted commit in the open formats
    }
    committed
  }

  /** Delta RESTORE: commit a NEW version whose live state (files, stats,
    * deletion vectors, schema) equals `toVersion`'s — history is never
    * rewritten, the rollback is itself a commit, so the mistake AND the
    * recovery both stay auditable and time-travelable. Requires the
    * target version's files to still exist (a vacuumed target refuses
    * with the missing file named — the Delta RESTORE limitation). The
    * change feed reports the revert as file-diff delete+insert events,
    * which is the row-level truth of a content rollback. */
  def restore(root: String, toVersion: Int): Int = {
    val m =
      try readManifest(root, toVersion)
      catch {
        case _: java.nio.file.NoSuchFileException =>
          throw new IllegalArgumentException(
            s"cannot restore to v$toVersion: its manifest was vacuumed")
      }
    m.files.foreach { f =>
      require(Files.exists(dataDir(root).resolve(f)),
        s"cannot restore to v$toVersion: data file $f was vacuumed")
    }
    m.dvs.valuesIterator.flatten.foreach { s =>
      require(Files.exists(deletesDir(root).resolve(s)),
        s"cannot restore to v$toVersion: deletion sidecar $s was vacuumed")
    }
    var committed = -1
    while (committed < 0)
      committed = tryCommit(root, latestVersion(root), "restore",
        m.schema.json, m.files, m.stats, dvs = m.dvs, colmap = m.colmap)
    committed
  }

  /** RENAME a column as ONE metadata commit, ZERO file rewrites — the
    * Delta name-mode column-mapping feature. The committed schema carries
    * the new LOGICAL name; the `colmap` line records which PHYSICAL
    * (on-file) name it reads from, so every existing file — and every
    * time-traveled version, under its own pinned mapping — stays exactly
    * readable. Writers after the rename stage under the physical name;
    * stats envelopes are keyed physical and survive untouched. At 100 TB
    * the alternative is rewriting the table.
    *
    * Guards: the source column must exist; the target name must be free
    * as BOTH a logical name and a borrowed physical name (aliasing
    * on-file data is the corruption this prevents); a column referenced
    * by a CHECK constraint refuses to rename (stored constraint
    * expressions are logical-name text — drop and re-add the constraint
    * around the rename). A rename that lands a column back on its own
    * physical name simply clears its mapping entry.
    *
    * Concurrency: the rename itself is an optimistic commit like any
    * other, but a writer whose stage-to-commit window STRADDLES a rename
    * may stage files under the pre-rename mapping — schedule renames
    * like schema changes (no concurrent writers), the Delta operational
    * guidance. */
  def renameColumn(root: String, from: String, to: String): Int = {
    require(from != to, "rename source and target are the same name")
    checkConstraints(root).foreach { case (name, expr) =>
      require(!s"\\b${java.util.regex.Pattern.quote(from)}\\b".r
          .findFirstIn(expr).isDefined,
        s"column '$from' is referenced by CHECK constraint '$name' ($expr) — " +
          "drop the constraint, rename, then re-add it under the new name")
    }
    generatedColumns(root).foreach { case (name, expr) =>
      require(name != from &&
        !s"\\b${java.util.regex.Pattern.quote(from)}\\b".r
          .findFirstIn(expr).isDefined,
        s"column '$from' is pinned by generated column '$name' ($expr) — " +
          "drop the registration, rename, then re-register")
    }
    var committed = -1
    while (committed < 0) {
      val base = latestVersion(root)
      require(base > 0, s"snapshot table at $root has no committed version")
      val head = readRaw(root, base)
      require(head.schema.fieldNames.contains(from),
        s"no column '$from' in ${head.schema.fieldNames.mkString(",")}")
      require(!head.schema.fieldNames.contains(to),
        s"column '$to' already exists")
      require(!(head.colmap - from).values.exists(_ == to),
        s"'$to' is the physical name behind another renamed column")
      val phys = physName(head.colmap, from)
      val newSchema = StructType(head.schema.fields.map(f =>
        if (f.name == from) f.copy(name = to) else f))
      val newMap = (head.colmap - from) ++
        (if (phys == to) Map.empty else Map(to -> phys))
      committed = commitChange(root, head, "rename", newSchema.json,
        adds = Nil, removes = Set.empty, addStats = Map.empty,
        colmap = newMap)
    }
    committed
  }

  /** CONDITIONAL MERGE — the Delta `WHEN MATCHED [AND cond]` surface:
    *
    *  - matched target rows where `deleteWhen` holds are DELETED;
    *  - matched rows where `updateWhen` holds (and deleteWhen does not)
    *    are REPLACED by their source row;
    *  - other matched rows KEEP their current values (the out-of-order
    *    CDC guard: `updateWhen = col("src_ts") > col("ts")` makes a late
    *    replay a no-op instead of a regression);
    *  - unmatched source rows INSERT when `insertUnmatched`.
    *
    * Conditions are Columns over a row that exposes TARGET columns under
    * their own names and SOURCE columns prefixed `src_`. NULL-valued
    * conditions count as false (SQL WHERE semantics). Several source rows
    * matching one target key is refused (the Delta multiple-match error).
    * Same optimistic read-merge-stage-commit race loop, change capture,
    * stats carry-over, and txn stamping as [[merge]]. */
  def mergeConditional(updates0: DataFrame, root: String, keyCols: Seq[String],
      updateWhen: Column, deleteWhen: Option[Column] = None,
      insertUnmatched: Boolean = true, statsCols: Seq[String] = Nil,
      changeCapture: Boolean = false,
      txn: Map[String, String] = Map.empty): Int = {
    require(keyCols.nonEmpty, "mergeConditional needs at least one key column")
    import org.apache.spark.sql.functions.{coalesce, col => fcol, lit, when}
    val spark = updates0.sparkSession
    val updates = applyGenerated(updates0, root)
    val dup = updates.groupBy(keyCols.map(fcol): _*)
      .count().where(fcol("count") > 1).limit(1).count()
    require(dup == 0, "mergeConditional: updates carry duplicate keys " +
      "(the Delta multiple-source-match error)")
    validateChecks(updates, root)
    var committed = -1
    while (committed < 0) {
      val base = latestVersion(root)
      val (merged, baseStatsCols, changes) =
        if (base == 0) {
          val ins = if (insertUnmatched) updates else updates.limit(0)
          (ins, Set.empty[String],
            if (changeCapture) Some(ins.withColumn("_change_type", lit("insert")))
            else None)
        } else {
          val m = readManifest(root, base)
          require(m.schema.fieldNames.sorted.sameElements(
            updates.schema.fieldNames.sorted),
            "mergeConditional refuses schema drift — align the update " +
              "frame's columns with the table first")
          val current = read(spark, root, Some(base))
          val cols = current.columns.toSeq
          val src = cols.foldLeft(updates)((df, c) =>
            df.withColumnRenamed(c, s"src_$c"))
            .withColumn("__src_present", lit(true))
          val joinCond = keyCols.map(k => fcol(k) === fcol(s"src_$k"))
            .reduce(_ && _)
          val j = current.join(src, joinCond, "left")
          val matched = coalesce(fcol("__src_present"), lit(false))
          val delC = coalesce(
            deleteWhen.map(d => matched && d).getOrElse(lit(false)), lit(false))
          val updC = coalesce(matched && !delC && updateWhen, lit(false))
          val kept = j.where(!delC)
            .select(cols.map(c =>
              when(updC, fcol(s"src_$c")).otherwise(fcol(c)).as(c)): _*)
          val curKeys = current.select(keyCols.map(fcol): _*).distinct()
          val inserts =
            if (insertUnmatched) updates.join(curKeys, keyCols, "left_anti")
            else updates.limit(0)
          val changeDf =
            if (!changeCapture) None
            else {
              val deleted = j.where(delC).select(cols.map(fcol): _*)
                .withColumn("_change_type", lit("delete"))
              val pre = j.where(updC).select(cols.map(fcol): _*)
                .withColumn("_change_type", lit("update_preimage"))
              val post = j.where(updC)
                .select(cols.map(c => fcol(s"src_$c").as(c)): _*)
                .withColumn("_change_type", lit("update_postimage"))
              Some(deleted.unionByName(pre).unionByName(post).unionByName(
                inserts.withColumn("_change_type", lit("insert"))))
            }
          (kept.unionByName(inserts),
            m.stats.valuesIterator.flatMap(_.keysIterator).toSet, changeDf)
        }
      val cols = (baseStatsCols ++ statsCols).toSeq.sorted
      val staged = stage(merged, root)
      val cdcStaged = changes.map(stageChanges(_, root)).getOrElse(Nil)
      val cm = if (base == 0) Map.empty[String, String]
        else readRaw(root, base).colmap
      committed = tryCommit(root, base, "merge", merged.schema.json, staged,
        footerStats(root, staged, cols, cm), cdcStaged, txn = txn, colmap = cm)
    }
    committed
  }

  /** Bin-packing file compaction — the OPTIMIZE of the open table formats.
    * Files smaller than `smallFraction · targetBytes` are packed,
    * name-order (= write order, so a z-ordered layout's clustering is
    * preserved bin-locally), into bins of ≤ `targetBytes` and rewritten as
    * one file per bin; the result commits as a NEW version whose content
    * is IDENTICAL to the base snapshot (only the file layout changes).
    * Needed because every streaming MERGE micro-batch ([[graft.streaming
    * .EventStream.upsertSink]]) commits a version of small files — at
    * 100 TB unbounded file count is the scan killer.
    *
    * Stats: untouched files keep their manifest envelopes; packed files
    * get fresh footer-derived envelopes over the SAME column set, so
    * [[readPruned]] skipping survives compaction.
    *
    * Concurrency (optimistic, same [[tryCommit]] contract as merge): on a
    * lost race, if the new head still lists every input file (a concurrent
    * APPEND landed), the packed data is still exact — re-base the file
    * list and retry without rewriting; if any input vanished (concurrent
    * overwrite/merge/compact), the packed files are stale — abandon them
    * as vacuum-able orphans and re-select from the new head.
    *
    * `zorderBy` (OPTIMIZE ZORDER BY): instead of name-order bin-packing —
    * which preserves EXISTING clustering bin-locally but cannot create
    * any — the whole small-file set rewrites through
    * [[graft.ops.Layout.zorder]] into ~`totalBytes / targetBytes` files,
    * each covering a tight hyper-rectangle of the named key space, and
    * the re-derived manifest envelopes make [[readPruned]] skip again.
    * This is the maintenance command for a CDC table: every streaming
    * MERGE rewrites in shuffle order, so after enough micro-batches every
    * file spans the whole key range and stats-pruning is dead — plain
    * packing would fossilize that; the z-order rewrite restores it.
    * Content is identical either way (a permutation), so the commit stays
    * a `compact` and the change feed stays silent.
    *
    * Returns the committed version, or the current version unchanged when
    * fewer than two files qualify (nothing to pack). */
  def compact(spark: SparkSession, root: String,
      targetBytes: Long = 128L << 20, smallFraction: Double = 0.5,
      zorderBy: Seq[String] = Nil, zorderBits: Int = 12): Int = {
    require(targetBytes > 0 && smallFraction > 0 && smallFraction <= 1)
    val cutoff = (targetBytes * smallFraction).toLong
    var committed = -1
    var result = -1
    while (committed < 0 && result < 0) {
      val base = latestVersion(root)
      require(base > 0, s"snapshot table at $root has no committed version")
      val m = readManifest(root, base)
      val sized = m.files.sorted.map { f =>
        f -> Files.size(dataDir(root).resolve(f)) }
      val small = sized.filter(_._2 < cutoff)
      if (small.size < 2) result = base // nothing to gain
      else {
        // first-fit over name order: consecutive files share a bin until
        // the target would overflow (parquet re-encoding changes sizes a
        // little; the bound is a layout target, not a contract)
        val bins = small.foldLeft(List.empty[(List[String], Long)]) {
          case ((names, sz) :: rest, (f, fsz)) if sz + fsz <= targetBytes =>
            (f :: names, sz + fsz) :: rest
          case (acc, (f, fsz)) => (List(f), fsz) :: acc
        }.map(_._1.reverse).reverse
        val inputs = small.map(_._1).toSet
        val statsCols = (m.stats.valuesIterator.flatMap(_.keysIterator).toSet
          ++ zorderBy).toSeq.sorted
        // one packed file per bin (each bin reads in name order, lands as
        // a single part), or one globally re-clustered rewrite when
        // z-ordering; stage() moves parts under a commit-unique prefix
        // packing reads THROUGH deletion vectors (compaction doubles as
        // vector MATERIALIZATION — the packed files carry only live rows
        // and the inputs' dv entries die with the removes); live content
        // is unchanged either way, so the commit stays feed-silent
        val staged =
          if (zorderBy.nonEmpty) {
            val outParts = math.max(1, math.ceil(
              small.map(_._2).sum.toDouble / targetBytes).toInt)
            stage(graft.ops.Layout.zorder(
              readFiles(spark, root, m, small.map(_._1)),
              zorderBy, zorderBits, outParts), root)
          } else bins.flatMap { bin =>
            stage(readFiles(spark, root, m, bin).coalesce(1), root)
          }
        val stagedStats = footerStats(root, staged, statsCols)
        // commit loop for THIS packing (a DELTA: remove inputs, add packed
        // files): re-base over appends, bail to re-pack when an input was
        // rewritten (or re-deleted — its vector changed) underneath us
        var stale = false
        var attemptRaw = readRaw(root, base)
        while (committed < 0 && !stale) {
          committed = commitChange(root, attemptRaw, "compact",
            attemptRaw.schema.json, adds = staged, removes = inputs,
            addStats = stagedStats)
          if (committed < 0) {
            val head = latestVersion(root)
            val hm = readManifest(root, head)
            if (inputs.forall(f => hm.files.contains(f) &&
                hm.dvs.get(f) == m.dvs.get(f)))
              attemptRaw = readRaw(root, head)
            else stale = true // packed content no longer matches — restart
          }
        }
      }
    }
    if (committed > 0) committed else result
  }

  /** Copy-on-write DELETE: removes rows matching `condition` by rewriting
    * ONLY the files that actually contain matches, in two file-level skip
    * stages (the Delta/Iceberg DELETE design):
    *
    *  1. `pruneHint = (col, lo, hi)`: files whose manifest [min, max]
    *     envelope on `col` misses [lo, hi] are skipped WITHOUT reading
    *     them (use when the predicate implies a range on a stats column);
    *  2. one scan of the surviving candidates finds the files with ≥1
    *     matching row (`input_file_name` distinct) — envelope-loose files
    *     with no real match keep their bytes untouched.
    *
    * Hit files rewrite as a group (filter keeps rows where the condition
    * is false OR NULL — SQL DELETE semantics) and commit as a DELTA
    * (remove hits, add rewrites), so commit cost is O(changed files).
    * Concurrency mirrors [[compact]]: a lost race re-bases over appends
    * (file-local rewrites stay exact — appends only add files) and
    * restarts from scratch when an input file vanished (concurrent
    * overwrite/merge/compact). Returns (version, filesRewritten,
    * filesSkipped); an all-skip delete commits nothing and returns the
    * current version. */
  def deleteWhere(spark: SparkSession, root: String,
      condition: org.apache.spark.sql.Column,
      pruneHint: Option[(String, Double, Double)] = None,
      changeCapture: Boolean = false): (Int, Int, Int) = {
    import org.apache.spark.sql.functions.{col => fcol, input_file_name, coalesce, lit}
    var done: Option[(Int, Int, Int)] = None
    while (done.isEmpty) {
      val base = latestVersion(root)
      require(base > 0, s"snapshot table at $root has no committed version")
      val m = readManifest(root, base)
      val candidates = pruneHint match {
        case Some((c, lo, hi)) => m.files.filter { f =>
          m.stats.get(f).flatMap(_.get(physName(m.colmap, c))) match {
            case Some((mn, mx)) => mx >= lo && mn <= hi
            case None => true // no envelope: cannot skip
          }
        }
        case None => m.files
      }
      if (candidates.isEmpty) done = Some((base, 0, m.files.size))
      else {
        // ONE job over the candidates to find files with real LIVE matches
        // (deletion vectors applied — a file whose only matches are
        // already dv-deleted keeps its bytes untouched); the distinct is
        // file-count-sized, never row-sized
        val hitNames = readFiles(spark, root, m, candidates, keepFilePos = true)
          .where(condition).select(fcol("__file")).distinct()
          .collect().map(_.getString(0)).toSet
        val hits = candidates.filter(hitNames)
        if (hits.isEmpty) done = Some((base, 0, m.files.size))
        else {
          val statsCols =
            m.stats.valuesIterator.flatMap(_.keysIterator).toSet.toSeq.sorted
          // the rewrite reads THROUGH the vectors: kept = live ∧ ¬cond,
          // and the rewritten files' dv entries die with the removes
          val hitFrame = readFiles(spark, root, m, hits)
          val kept = hitFrame
            .where(!coalesce(condition, lit(false)))
            .coalesce(math.max(1, hits.size))
          val staged = stage(kept, root)
          // row-level change capture: exactly the rows the condition
          // removes, from exactly the files being rewritten — one more
          // scan of the HIT files only (never the skipped ones)
          val cdcStaged =
            if (!changeCapture) Nil
            else stageChanges(hitFrame
              .where(coalesce(condition, lit(false)))
              .withColumn("_change_type", lit("delete")), root)
          val stagedStats = footerStats(root, staged, statsCols)
          val inputs = hits.toSet
          var committed = -1
          var stale = false
          var attemptRaw = readRaw(root, base)
          while (committed < 0 && !stale) {
            committed = commitChange(root, attemptRaw, "delete",
              attemptRaw.schema.json, adds = staged, removes = inputs,
              addStats = stagedStats, cdc = cdcStaged)
            if (committed < 0) {
              val head = latestVersion(root)
              val hm = readManifest(root, head)
              // an input that vanished OR grew a different deletion vector
              // was rewritten/re-deleted underneath us — restart
              if (inputs.forall(f => hm.files.contains(f) &&
                  hm.dvs.get(f) == m.dvs.get(f)))
                attemptRaw = readRaw(root, head)
              else stale = true
            }
          }
          if (committed > 0)
            done = Some((committed, hits.size, m.files.size - hits.size))
          // else stale: abandoned staged files become vacuum-able orphans
        }
      }
    }
    done.get
  }

  /** Delta's `INSERT OVERWRITE ... replaceWhere` — the dynamic-partition-
    * overwrite generalization: atomically replace EXACTLY the rows matching
    * `condition` with `data`, in ONE commit. The 100 TB use case is the
    * daily backfill — "rewrite this day/region slice" — where running
    * [[deleteWhere]] then [[write]](append) would expose a torn
    * intermediate snapshot (slice deleted, replacement not yet landed) to
    * any concurrent reader; here readers see old-slice or new-slice, never
    * neither.
    *
    * Contract (matching Delta's):
    *  - every incoming row MUST satisfy `condition` (checked with one job
    *    over `data`; a violating row would silently survive the next
    *    replace of the same slice, so it is refused up front);
    *  - files whose stats envelope proves no overlap with the condition
    *    (`pruneHint`, the [[readPruned]] doctrine) are skipped untouched —
    *    a slice replace in a stats-clustered table rewrites O(slice) files
    *    regardless of table size;
    *  - candidate files are scanned ONCE to find real live matches
    *    (deletion vectors applied); files with matches are rewritten
    *    keeping only their non-matching rows, dropping their DV entries
    *    with them;
    *  - `changeCapture` commits the row-level feed: the replaced rows as
    *    `delete` events and `data` as `insert` events (Delta-CDF).
    *
    * Returns (version, filesRewritten, filesSkipped). Incoming files are
    * staged once; a commit-race loser re-reads the head and re-stages only
    * the kept-rows rewrite (its abandoned files are vacuum-able orphans,
    * like any loser's). */
  def replaceWhere(data: DataFrame, root: String,
      condition: org.apache.spark.sql.Column,
      pruneHint: Option[(String, Double, Double)] = None,
      changeCapture: Boolean = false,
      txn: Map[String, String] = Map.empty): (Int, Int, Int) = {
    import org.apache.spark.sql.functions.{col => fcol, coalesce, lit}
    val spark = data.sparkSession
    validateChecks(data, root)
    require(data.where(!coalesce(condition, lit(false))).isEmpty,
      "replaceWhere: incoming rows must all satisfy the replace condition " +
        "(Delta semantics) — a non-matching row would silently survive the " +
        "next replace of the same slice")
    val incomingStaged = stage(data, root)
    var done: Option[(Int, Int, Int)] = None
    while (done.isEmpty) {
      val base = latestVersion(root)
      require(base > 0, s"snapshot table at $root has no committed version")
      val m = readManifest(root, base)
      // same no-drift contract as append: the slice replaces rows, not the
      // table's shape
      require(unionSchema(m.schema, data.schema, allowEvolution = false)
        .fieldNames.sameElements(m.schema.fieldNames),
        "replaceWhere data schema must match the table schema")
      val candidates = pruneHint match {
        case Some((c, lo, hi)) => m.files.filter { f =>
          m.stats.get(f).flatMap(_.get(physName(m.colmap, c))) match {
            case Some((mn, mx)) => mx >= lo && mn <= hi
            case None => true // no envelope: cannot skip
          }
        }
        case None => m.files
      }
      val hitNames =
        if (candidates.isEmpty) Set.empty[String]
        else readFiles(spark, root, m, candidates, keepFilePos = true)
          .where(condition).select(fcol("__file")).distinct()
          .collect().map(_.getString(0)).toSet
      val hits = candidates.filter(hitNames)
      val statsCols =
        m.stats.valuesIterator.flatMap(_.keysIterator).toSet.toSeq.sorted
      val hitFrame = readFiles(spark, root, m, hits)
      val keptStaged =
        if (hits.isEmpty) Nil
        else stage(hitFrame.where(!coalesce(condition, lit(false)))
          .coalesce(math.max(1, hits.size)), root)
      val cdcStaged =
        if (!changeCapture) Nil
        else {
          val deletes = hitFrame.where(coalesce(condition, lit(false)))
            .withColumn("_change_type", lit("delete"))
          stageChanges(
            deletes.unionByName(data.withColumn("_change_type", lit("insert"))),
            root)
        }
      val adds = keptStaged ++ incomingStaged
      val stagedStats = footerStats(root, adds, statsCols)
      val inputs = hits.toSet
      var committed = -1
      var stale = false
      var attemptRaw = readRaw(root, base)
      while (committed < 0 && !stale) {
        committed = commitChange(root, attemptRaw, "replace",
          attemptRaw.schema.json, adds = adds, removes = inputs,
          addStats = stagedStats, cdc = cdcStaged, txn = txn)
        if (committed < 0) {
          val head = latestVersion(root)
          val hm = readManifest(root, head)
          // an input that vanished OR grew a different deletion vector was
          // rewritten underneath us: the kept-rows rewrite (and the hit
          // set itself) is stale — restart from the new head
          if (inputs.forall(f => hm.files.contains(f) &&
              hm.dvs.get(f) == m.dvs.get(f)))
            attemptRaw = readRaw(root, head)
          else stale = true
        }
      }
      if (committed > 0)
        done = Some((committed, hits.size, m.files.size - hits.size))
      // else stale: loop re-reads the head; abandoned kept/cdc staged
      // files become vacuum-able orphans (incoming files are reused)
    }
    done.get
  }

  /** Copy-on-write UPDATE ... SET: rows matching `condition` get
    * `assignments` applied (each value expression may reference any table
    * column; it is cast to the column's declared type), rewriting ONLY
    * the files that contain matches — the same two-stage file skipping,
    * DV-awareness, change capture (`update_preimage`/`update_postimage`
    * cdc files), delta commit, and race handling as [[deleteWhere]].
    * Non-matching rows (including condition-NULL rows, SQL semantics)
    * pass through byte-identical. Returns (version, filesRewritten,
    * filesSkipped); a no-match update commits nothing. */
  def updateWhere(spark: SparkSession, root: String,
      condition: org.apache.spark.sql.Column,
      assignments: Map[String, org.apache.spark.sql.Column],
      pruneHint: Option[(String, Double, Double)] = None,
      changeCapture: Boolean = false): (Int, Int, Int) = {
    import org.apache.spark.sql.functions.{col => fcol, coalesce, lit, when}
    require(assignments.nonEmpty, "update needs at least one assignment")
    var done: Option[(Int, Int, Int)] = None
    while (done.isEmpty) {
      val base = latestVersion(root)
      require(base > 0, s"snapshot table at $root has no committed version")
      val m = readManifest(root, base)
      val unknown = assignments.keySet -- m.schema.fieldNames
      require(unknown.isEmpty, s"update assigns unknown columns: $unknown")
      val candidates = pruneHint match {
        case Some((c, lo, hi)) => m.files.filter { f =>
          m.stats.get(f).flatMap(_.get(physName(m.colmap, c))) match {
            case Some((mn, mx)) => mx >= lo && mn <= hi
            case None => true
          }
        }
        case None => m.files
      }
      if (candidates.isEmpty) done = Some((base, 0, m.files.size))
      else {
        val hitNames = readFiles(spark, root, m, candidates, keepFilePos = true)
          .where(condition).select(fcol("__file")).distinct()
          .collect().map(_.getString(0)).toSet
        val hits = candidates.filter(hitNames)
        if (hits.isEmpty) done = Some((base, 0, m.files.size))
        else {
          val statsCols =
            m.stats.valuesIterator.flatMap(_.keysIterator).toSet.toSeq.sorted
          val hitFrame = readFiles(spark, root, m, hits)
          val matched = coalesce(condition, lit(false))
          // assigned columns switch on the row's own match flag; every
          // other column (and every non-matching row) passes through
          val updatedCols = m.schema.fields.map { f =>
            assignments.get(f.name) match {
              case Some(a) =>
                when(matched, a.cast(f.dataType)).otherwise(fcol(f.name))
                  .as(f.name)
              case None => fcol(f.name)
            }
          }
          val rewritten = hitFrame.select(updatedCols.toSeq: _*)
            .coalesce(math.max(1, hits.size))
          // validate post-assignment values of the rows the PRE-assignment
          // condition matched (the condition may reference the very column
          // being updated, so re-filtering the rewritten frame would miss)
          validateChecks(hitFrame.where(matched)
            .select(m.schema.fields.map { f =>
              assignments.get(f.name)
                .map(_.cast(f.dataType).as(f.name))
                .getOrElse(fcol(f.name))
            }.toSeq: _*), root)
          val staged = stage(rewritten, root)
          val cdcStaged =
            if (!changeCapture) Nil
            else {
              val pre = hitFrame.where(matched)
                .withColumn("_change_type", lit("update_preimage"))
              val post = hitFrame.where(matched)
                .select(m.schema.fields.map { f =>
                  assignments.get(f.name)
                    .map(_.cast(f.dataType).as(f.name))
                    .getOrElse(fcol(f.name))
                }.toSeq: _*)
                .withColumn("_change_type", lit("update_postimage"))
              stageChanges(pre.unionByName(post), root)
            }
          val stagedStats = footerStats(root, staged, statsCols)
          val inputs = hits.toSet
          var committed = -1
          var stale = false
          var attemptRaw = readRaw(root, base)
          while (committed < 0 && !stale) {
            committed = commitChange(root, attemptRaw, "update",
              attemptRaw.schema.json, adds = staged, removes = inputs,
              addStats = stagedStats, cdc = cdcStaged)
            if (committed < 0) {
              val head = latestVersion(root)
              val hm = readManifest(root, head)
              if (inputs.forall(f => hm.files.contains(f) &&
                  hm.dvs.get(f) == m.dvs.get(f)))
                attemptRaw = readRaw(root, head)
              else stale = true
            }
          }
          if (committed > 0)
            done = Some((committed, hits.size, m.files.size - hits.size))
        }
      }
    }
    done.get
  }

  /** MERGE-ON-READ DELETE via deletion vectors — the modern alternative
    * to [[deleteWhere]]'s copy-on-write: no data file is rewritten;
    * instead the matching rows' parquet positions are recorded in a
    * position sidecar under `_deletes/` and the manifest's `dv=` entries
    * point each touched file at it (Delta deletion vectors / Iceberg
    * positional deletes). Readers apply vectors transparently
    * ([[readFiles]]); [[compact]] MATERIALIZES them (packs live rows,
    * drops the entries), which is the maintenance path that keeps read
    * amplification bounded.
    *
    * Cost shape vs copy-on-write: a delete touching 1 row of a 1 GB file
    * writes a KB-sized sidecar instead of re-encoding the gigabyte — the
    * right trade for frequent small deletes (GDPR erasure, dedup purges)
    * at 100 TB; the read side pays one broadcast anti-join on the touched
    * files until the next compaction.
    *
    * The match scan applies EXISTING vectors, so already-deleted rows
    * never re-match (a repeated identical delete is a no-op) and the
    * change feed derives exact row-level delete events from the vector
    * DIFF — no capture flag needed, the vector IS the row-level record.
    * A writer extending a file's vector unions the prior positions into
    * the new sidecar (replacement semantics keep resolution O(lines)).
    *
    * Concurrency: mirrors [[deleteWhere]] — a lost race re-bases over
    * appends; it restarts when a touched file vanished (rewritten) or its
    * vector changed (concurrent MoR delete), so vector updates serialize.
    *
    * Returns (version, filesTouched, rowsDeleted); a no-match delete
    * commits nothing and returns the current version. */
  def deleteWhereMoR(spark: SparkSession, root: String,
      condition: org.apache.spark.sql.Column,
      pruneHint: Option[(String, Double, Double)] = None): (Int, Int, Long) = {
    import org.apache.spark.sql.functions.{col => fcol}
    var done: Option[(Int, Int, Long)] = None
    while (done.isEmpty) {
      val base = latestVersion(root)
      require(base > 0, s"snapshot table at $root has no committed version")
      val m = readManifest(root, base)
      val candidates = pruneHint match {
        case Some((c, lo, hi)) => m.files.filter { f =>
          m.stats.get(f).flatMap(_.get(physName(m.colmap, c))) match {
            case Some((mn, mx)) => mx >= lo && mn <= hi
            case None => true
          }
        }
        case None => m.files
      }
      if (candidates.isEmpty) done = Some((base, 0, 0L))
      else {
        // live matches with their (file, position) addresses — one scan
        val matches = readFiles(spark, root, m, candidates, keepFilePos = true)
          .where(condition)
          .select(fcol("__file").as("file_name"), fcol("__pos").as("pos"))
          .localCheckpoint() // pin: the sidecar write and the count reuse it
        val hitFiles = matches.select("file_name").distinct()
          .collect().map(_.getString(0)).toSeq.sorted
        if (hitFiles.isEmpty) done = Some((base, 0, 0L))
        else {
          val rowsDeleted = matches.count()
          // new sidecar = new positions ∪ the touched files' PRIOR
          // positions (replacement semantics); live matches are disjoint
          // from prior positions by construction, no dedup needed
          val allPos = matches.unionByName(
            dvPositions(spark, root, m, hitFiles))
          val staged = stageInto(allPos, root, deletesDir(root))
          val dvSet = hitFiles.map(f => f -> staged).toMap
          var committed = -1
          var stale = false
          var attemptRaw = readRaw(root, base)
          while (committed < 0 && !stale) {
            committed = commitChange(root, attemptRaw, "delete_mor",
              attemptRaw.schema.json, adds = Nil, removes = Set.empty,
              addStats = Map.empty, dvSet = dvSet)
            if (committed < 0) {
              val head = latestVersion(root)
              val hm = readManifest(root, head)
              if (hitFiles.forall(f => hm.files.contains(f) &&
                  hm.dvs.get(f) == m.dvs.get(f)))
                attemptRaw = readRaw(root, head)
              else stale = true // touched file rewritten or re-deleted
            }
          }
          if (committed > 0) done = Some((committed, hitFiles.size, rowsDeleted))
          // else stale: staged sidecars become vacuum-able orphans
        }
      }
    }
    done.get
  }

  /** MERGE-ON-READ UPDATE via deletion vectors — completes the
    * CoW/MoR × delete/update DML matrix: matched rows' old positions
    * enter the touched files' vectors (as in [[deleteWhereMoR]]) and
    * their postimage rows — `assignments` applied, cast to each column's
    * declared type — land in NEWLY APPENDED files. No existing data file
    * is rewritten: an update touching 1 row of a 1 GB file writes a
    * KB-sized sidecar plus a 1-row file, the Delta DV-update /
    * Iceberg positional-delete-plus-append shape.
    *
    * The match scan applies EXISTING vectors, so rows deleted earlier
    * never resurrect as postimages. Fresh footer stats ride the appended
    * files, keeping pruned reads exact. The change feed: with
    * `changeCapture` the commit carries exact `update_preimage` /
    * `update_postimage` rows; without it the feed derives row-level
    * delete events from the vector diff plus insert events from the
    * appended files — exact, just typed delete+insert rather than
    * update pairs.
    *
    * Concurrency mirrors [[deleteWhereMoR]]: lost races re-base over
    * appends and restart when a touched file vanished or its vector
    * changed. Returns (version, filesTouched, rowsUpdated); a no-match
    * update commits nothing. */
  def updateWhereMoR(spark: SparkSession, root: String,
      condition: org.apache.spark.sql.Column,
      assignments: Map[String, org.apache.spark.sql.Column],
      pruneHint: Option[(String, Double, Double)] = None,
      changeCapture: Boolean = false): (Int, Int, Long) = {
    import org.apache.spark.sql.functions.{col => fcol, lit}
    require(assignments.nonEmpty, "update needs at least one assignment")
    var done: Option[(Int, Int, Long)] = None
    while (done.isEmpty) {
      val base = latestVersion(root)
      require(base > 0, s"snapshot table at $root has no committed version")
      val m = readManifest(root, base)
      val unknown = assignments.keySet -- m.schema.fieldNames
      require(unknown.isEmpty, s"update assigns unknown columns: $unknown")
      val candidates = pruneHint match {
        case Some((c, lo, hi)) => m.files.filter { f =>
          m.stats.get(f).flatMap(_.get(physName(m.colmap, c))) match {
            case Some((mn, mx)) => mx >= lo && mn <= hi
            case None => true
          }
        }
        case None => m.files
      }
      if (candidates.isEmpty) done = Some((base, 0, 0L))
      else {
        // live matches with their (file, position) addresses AND full row
        // payload — one scan feeds the vector, the postimages, and capture
        val matches = readFiles(spark, root, m, candidates, keepFilePos = true)
          .where(condition)
          .localCheckpoint()
        val hitFiles = matches.select("__file").distinct()
          .collect().map(_.getString(0)).toSeq.sorted
        if (hitFiles.isEmpty) done = Some((base, 0, 0L))
        else {
          val rowsUpdated = matches.count()
          val statsCols =
            m.stats.valuesIterator.flatMap(_.keysIterator).toSet.toSeq.sorted
          val post = matches.select(m.schema.fields.map { f =>
            assignments.get(f.name)
              .map(_.cast(f.dataType).as(f.name))
              .getOrElse(fcol(f.name))
          }.toSeq: _*)
          validateChecks(post, root)
          val staged = stage(post.coalesce(math.max(1, hitFiles.size)), root)
          val stagedStats = footerStats(root, staged, statsCols)
          val allPos = matches
            .select(fcol("__file").as("file_name"), fcol("__pos").as("pos"))
            .unionByName(dvPositions(spark, root, m, hitFiles))
          val dvStaged = stageInto(allPos, root, deletesDir(root))
          val dvSet = hitFiles.map(f => f -> dvStaged).toMap
          val cdcStaged =
            if (!changeCapture) Nil
            else stageChanges(
              matches.drop("__file", "__pos")
                .withColumn("_change_type", lit("update_preimage"))
                .unionByName(
                  post.withColumn("_change_type", lit("update_postimage"))),
              root)
          var committed = -1
          var stale = false
          var attemptRaw = readRaw(root, base)
          while (committed < 0 && !stale) {
            committed = commitChange(root, attemptRaw, "update_mor",
              attemptRaw.schema.json, adds = staged, removes = Set.empty,
              addStats = stagedStats, cdc = cdcStaged, dvSet = dvSet)
            if (committed < 0) {
              val head = latestVersion(root)
              val hm = readManifest(root, head)
              if (hitFiles.forall(f => hm.files.contains(f) &&
                  hm.dvs.get(f) == m.dvs.get(f)))
                attemptRaw = readRaw(root, head)
              else stale = true // touched file rewritten or re-vectored
            }
          }
          if (committed > 0)
            done = Some((committed, hitFiles.size, rowsUpdated))
          // else stale: staged files/sidecars become vacuum-able orphans
        }
      }
    }
    done.get
  }

  /** CHANGE FEED between two committed versions — the CDC read the open
    * formats expose. Two granularities, chosen per commit:
    *
    *  - **Row-level** (Delta CDF): a merge/delete committed with
    *    `changeCapture = true` recorded its exact changed rows in
    *    `cdc=`-referenced change files (`update_preimage` /
    *    `update_postimage` / `insert` for merge, `delete` for delete) —
    *    those replay verbatim, so a 1-row MERGE into a 1000-row file
    *    emits 2 events, not ~2000 (CdcAmplificationSpec measures both
    *    feeds on exactly that shape).
    *  - **File-diff fallback** (any other commit): files that ENTER the
    *    live set carry their rows as `_change_type = 'insert'`, files
    *    that LEAVE it as `'delete'`. Exact for append (added rows ARE the
    *    inserts) and overwrite (delete-all + insert-all IS the row-level
    *    truth); write-amplified for a capture-less merge/delete, where
    *    rewritten-but-unchanged rows report delete+insert pairs that a
    *    downstream consumer must net out relationally.
    *
    * Versions whose op is `compact` are SKIPPED — compaction changes
    * layout, not data (the `dataChange = false` contract of OPTIMIZE) —
    * and a file both added and removed inside the window by a later
    * rewrite reports both events (the row was visible in between).
    *
    * Schema: entering files read with their version's manifest schema;
    * LEAVING files read with the schema of the previous version — the
    * last one that contained them — so an overwrite that narrows or
    * renames columns still renders its delete-events with the dropped
    * columns' values intact. The union is by name with NULL backfill, so
    * a window spanning an evolution is well-typed. Requires the versions
    * in the window to still exist (not vacuumed). */
  def readChanges(spark: SparkSession, root: String, fromVersion: Int,
      toVersion: Option[Int] = None): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col, lit, substring_index}
    val to = toVersion.getOrElse(latestVersion(root))
    require(fromVersion >= 1 && to >= fromVersion,
      s"bad change window [$fromVersion, $to]")
    var prev = readManifest(root, fromVersion)
    val frames = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    ((fromVersion + 1) to to).foreach { v =>
      val m = readManifest(root, v)
      val raw = readRaw(root, v)
      if (m.op != "compact") {
        if (raw.cdc.nonEmpty) {
          // row-level capture: the change files carry their own
          // _change_type column; schema = version schema + that column
          // (scanned under PHYSICAL names, aliased back like readFiles)
          val readSchema = StructType(physSchema(m.schema, m.colmap).fields :+
            org.apache.spark.sql.types.StructField("_change_type",
              org.apache.spark.sql.types.StringType))
          val cdcRaw = spark.read.schema(readSchema)
            .parquet(raw.cdc.map(f => changesDir(root).resolve(f).toString): _*)
          val cdcLogical =
            if (m.colmap.isEmpty) cdcRaw
            else cdcRaw.select(m.schema.fields.toSeq.map(f =>
              col(physName(m.colmap, f.name)).as(f.name)) :+
              col("_change_type"): _*)
          frames += cdcLogical.withColumn("_change_version", lit(v))
        } else if ((m.op == "delete_mor" || m.op == "update_mor") &&
            raw.dvSet.nonEmpty) {
          // merge-on-read delete/update: exact row-level delete events
          // from the VECTOR DIFF — the rows whose positions entered the
          // touched files' vectors at this commit (a raw scan, vectors
          // NOT applied: the deleted rows are the payload). An update
          // additionally reports its appended postimage files as inserts
          // (delete+insert typing; changeCapture gives update pairs).
          val touched = raw.dvSet.keys.toSeq.sorted
          val diff = dvPositions(spark, root, m, touched)
            .exceptAll(dvPositions(spark, root, prev, touched))
            .select(col("file_name").as("__df"), col("pos").as("__dp"))
          val delRaw = spark.read
            .schema(physSchema(prev.schema, prev.colmap))
            .parquet(touched.map(f => dataDir(root).resolve(f).toString): _*)
            .withColumn("__file",
              substring_index(col("_metadata.file_path"), "/", -1))
            .withColumn("__pos", col("_metadata.row_index"))
            .join(broadcast(diff),
              col("__file") === col("__df") && col("__pos") === col("__dp"),
              "left_semi")
            .drop("__file", "__pos")
          val delLogical =
            if (prev.colmap.isEmpty) delRaw
            else delRaw.select(prev.schema.fields.toSeq.map(f =>
              col(physName(prev.colmap, f.name)).as(f.name)): _*)
          frames += delLogical
            .withColumn("_change_type", lit("delete"))
            .withColumn("_change_version", lit(v))
          val prevLive = prev.files.toSet
          val added = m.files.filterNot(prevLive)
          if (added.nonEmpty)
            frames += readFiles(spark, root, m, added)
              .withColumn("_change_type", lit("insert"))
              .withColumn("_change_version", lit(v))
        } else {
          val prevLive = prev.files.toSet
          val added = m.files.filterNot(prevLive)
          val removed = prevLive.diff(m.files.toSet).toSeq.sorted
          if (added.nonEmpty)
            frames += readFiles(spark, root, m, added)
              .withColumn("_change_type", lit("insert"))
              .withColumn("_change_version", lit(v))
          if (removed.nonEmpty)
            frames += readFiles(spark, root, prev, removed)
              .withColumn("_change_type", lit("delete"))
              .withColumn("_change_version", lit(v))
        }
      }
      prev = m
    }
    val headSchema = readManifest(root, to).schema
    val empty = spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], headSchema)
      .withColumn("_change_type", lit(null).cast("string"))
      .withColumn("_change_version", lit(null).cast("int"))
    frames.foldLeft(empty)((a, b) => a.unionByName(b, allowMissingColumns = true))
  }

  /** Content-level multiset reconciliation between two versions — the
    * data-audit sibling of [[readChanges]]: where the change feed replays
    * HOW the table moved (per commit, with CDC granularity), this answers
    * WHAT differs between two snapshots regardless of the path taken
    * (merges, compactions, restores — compaction-invariant by
    * construction since it reads materialized snapshots).
    *
    * One row per distinct row-content whose multiplicity changed:
    * the row's columns plus `(n_before, n_after, delta)`. NULL-safe
    * grouping (two NULLs are the same content). Plan: two snapshot scans,
    * each reduced to (content, count) map-side, one content-keyed
    * full-outer join — the shuffle carries distinct contents, not rows. */
  def diffVersions(spark: SparkSession, root: String,
      fromVersion: Int, toVersion: Int): DataFrame = {
    import org.apache.spark.sql.functions._
    val a = read(spark, root, Some(fromVersion))
    val cols = a.columns.toSeq
    val b = read(spark, root, Some(toVersion)).select(cols.map(col): _*)
    val ga = a.groupBy(cols.map(col): _*).agg(count(lit(1)).as("n_before"))
      .as("a")
    val gb = b.groupBy(cols.map(col): _*).agg(count(lit(1)).as("n_after"))
      .as("b")
    val cond = cols.map(c => col(s"a.$c") <=> col(s"b.$c")).reduce(_ && _)
    ga.join(gb, cond, "full_outer")
      .select(cols.map(c => coalesce(col(s"a.$c"), col(s"b.$c")).as(c)) ++ Seq(
        coalesce(col("a.n_before"), lit(0L)).as("n_before"),
        coalesce(col("b.n_after"), lit(0L)).as("n_after")): _*)
      .where(col("n_before") =!= col("n_after"))
      .withColumn("delta", col("n_after") - col("n_before"))
  }

  /** Stage `df`'s part files into the table's data dir under a
    * commit-unique prefix; returns the staged file names. Staging writes
    * UNDER THE TABLE ROOT (same filesystem as data/, so the ATOMIC_MOVE
    * rename is guaranteed supported — java.io.tmpdir may live on a
    * different mount). */
  private def stage(df: DataFrame, root: String): Seq[String] =
    stageInto(toPhysical(df, currentColmap(root)), root, dataDir(root))

  /** Stage WITHOUT applying the column mapping — the overwrite path,
    * which resets the mapping (all files replaced, physical = logical). */
  private def stageUnmapped(df: DataFrame, root: String): Seq[String] =
    stageInto(df, root, dataDir(root))

  /** Stage a ROW-LEVEL CHANGE frame (table columns + `_change_type`) into
    * `_changes/` — same move-then-commit mechanics as data staging; the
    * files only become visible when a manifest's `cdc=` lines reference
    * them, and a commit-race loser's change files are vacuum-able orphans
    * exactly like its data files. */
  private def stageChanges(df: DataFrame, root: String): Seq[String] =
    stageInto(toPhysical(df, currentColmap(root)), root, changesDir(root))

  private def stageInto(df: DataFrame, root: String, target: Path): Seq[String] = {
    Files.createDirectories(manifestDir(root))
    Files.createDirectories(target)
    val commitId = UUID.randomUUID().toString.take(8)
    val staging = Paths.get(root, "_staging", commitId)
    Files.createDirectories(staging)
    try {
      df.write.mode("overwrite").parquet(staging.toString)
      listDir(staging)(_.filter(_.getFileName.toString.endsWith(".parquet"))
        .map { p =>
          val name = s"$commitId-${p.getFileName}"
          Files.move(p, target.resolve(name), StandardCopyOption.ATOMIC_MOVE)
          name
        }.toSeq.sorted)
    } finally {
      // drop the staging tree (Spark's _SUCCESS/.crc/_temporary leftovers)
      // whether or not the commit succeeds — data files already moved out.
      // Deepest-first walk: a failed df.write leaves a non-empty
      // _temporary/ subtree that a flat delete would trip over. Cleanup
      // failures are swallowed so they can't mask the original exception.
      try {
        val walk = Files.walk(staging)
        try walk.sorted(java.util.Comparator.reverseOrder())
          .forEach(p => Files.deleteIfExists(p))
        finally walk.close()
      } catch { case _: java.io.IOException => /* leave orphan staging dir */ }
    }
  }

  /** One optimistic commit attempt at version `base`+1: the committed
    * version on success, -1 when a concurrent committer took the slot
    * (caller decides how to recompute before retrying). */
  private def statLines(
      stats: Map[String, Map[String, (Double, Double)]]): Seq[String] =
    stats.toSeq.sortBy(_._1).flatMap { case (f, cols) =>
      cols.toSeq.sortBy(_._1).map { case (c, (mn, mx)) =>
        s"stats=$f;$c;${java.lang.Double.toString(mn)};${java.lang.Double.toString(mx)}" }
    }

  /** The manifest is written in full to a temp file, then hard-linked into
    * place: the link fails if the version exists (the commit CAS) and a
    * concurrent reader never sees a created-but-unwritten manifest. */
  private def atomicCreate(root: String, v: Int, body: String): Int = {
    val tmp = manifestDir(root).resolve(s"_v$v.${UUID.randomUUID()}.tmp")
    Files.write(tmp, body.getBytes(StandardCharsets.UTF_8))
    try { Files.createLink(manifestPath(root, v), tmp); v }
    catch { case _: java.nio.file.FileAlreadyExistsException => -1 }
    finally Files.delete(tmp)
  }

  private def dvLines(dvs: Map[String, Seq[String]]): Seq[String] =
    dvs.toSeq.sortBy(_._1).flatMap { case (f, ss) => ss.map(s => s"dv=$f;$s") }

  private def txnLines(txn: Map[String, String]): Seq[String] = {
    txn.keys.foreach { k =>
      require(!k.contains(";") && !k.contains("\n") && !k.contains("="),
        s"txn key '$k' may not contain ';', '=', or newlines")
    }
    txn.values.foreach(v => require(!v.contains("\n"),
      "txn values may not contain newlines"))
    txn.toSeq.sortBy(_._1).map { case (k, v) => s"txn=$k;$v" }
  }

  private def colmapLines(colmap: Map[String, String]): Seq[String] =
    colmap.toSeq.sorted.map { case (l, p) => s"colmap=$l;$p" }

  /** Physical (on-file) name of logical column `c` under `colmap`. Safe
    * to pass an already-physical name: the rename guards keep the logical
    * and borrowed-physical name sets disjoint, so non-mapped names pass
    * through unchanged. */
  private[sources] def physName(colmap: Map[String, String], c: String): String =
    colmap.getOrElse(c, c)

  private def physSchema(schema: StructType, colmap: Map[String, String]): StructType =
    if (colmap.isEmpty) schema
    else StructType(schema.fields.map(f => f.copy(name = physName(colmap, f.name))))

  /** Rename a LOGICAL frame's mapped columns to their physical names
    * (columns not in the map — including sidecars like `_change_type` —
    * pass through). */
  private def toPhysical(df: DataFrame, colmap: Map[String, String]): DataFrame =
    if (colmap.isEmpty) df
    else {
      import org.apache.spark.sql.functions.col
      df.select(df.columns.map(c => col(c).as(physName(colmap, c))).toSeq: _*)
    }

  /** The head commit's column mapping (empty on an empty table). */
  private def currentColmap(root: String): Map[String, String] = {
    val v = latestVersion(root)
    if (v == 0) Map.empty else readRaw(root, v).colmap
  }

  private[sources] def tryCommit(root: String, base: Int, op: String,
      schemaJson: String, files: Seq[String],
      stats: Map[String, Map[String, (Double, Double)]] = Map.empty,
      cdc: Seq[String] = Nil,
      dvs: Map[String, Seq[String]] = Map.empty,
      txn: Map[String, String] = Map.empty,
      colmap: Map[String, String] = Map.empty): Int = {
    val v = base + 1
    val body = (Seq(s"version=$v", s"op=$op", s"schema=$schemaJson") ++
      files.map(f => s"file=$f") ++ statLines(stats) ++
      cdc.map(f => s"cdc=$f") ++ dvLines(dvs) ++ txnLines(txn) ++
      colmapLines(colmap)).mkString("\n")
    atomicCreate(root, v, body)
  }

  /** One optimistic DELTA commit attempt: records only this commit's
    * adds/removes against `base` — O(changed files) bytes, never
    * O(table files). `stats` should cover the added files only. */
  private[sources] def tryCommitDelta(root: String, base: Int, op: String,
      schemaJson: String, adds: Seq[String], removes: Set[String],
      stats: Map[String, Map[String, (Double, Double)]], chain: Int,
      cdc: Seq[String] = Nil,
      dvs: Map[String, Seq[String]] = Map.empty,
      txn: Map[String, String] = Map.empty,
      colmap: Map[String, String] = Map.empty): Int = {
    val v = base + 1
    val body = (Seq(s"version=$v", s"op=$op", s"schema=$schemaJson",
      s"base=$base", s"chain=$chain") ++
      adds.map(f => s"add=$f") ++ removes.toSeq.sorted.map(f => s"remove=$f") ++
      statLines(stats) ++ cdc.map(f => s"cdc=$f") ++ dvLines(dvs) ++
      txnLines(txn) ++ colmapLines(colmap)).mkString("\n")
    atomicCreate(root, v, body)
  }

  /** Current (file_name, pos) deletion-vector rows for `files` under
    * snapshot `m`: each sidecar is read once and its rows kept only when
    * addressed to a file that points at THAT sidecar in this snapshot —
    * stale rows (a replaced vector, another file's entries) filter out
    * row-locally against the small literal pair list. */
  private def dvPositions(spark: SparkSession, root: String, m: Manifest,
      files: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.{col, concat, input_file_name, lit, substring_index}
    val pairs = files.flatMap(f => m.dvs.getOrElse(f, Nil).map(s => s"$f;$s"))
    val sidecars = files.flatMap(f => m.dvs.getOrElse(f, Nil)).distinct
    if (sidecars.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("file_name",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("pos",
            org.apache.spark.sql.types.LongType))))
    else spark.read
      .parquet(sidecars.map(s => deletesDir(root).resolve(s).toString): _*)
      .where(concat(col("file_name"), lit(";"),
        substring_index(input_file_name(), "/", -1)).isin(pairs: _*))
      .select(col("file_name"), col("pos"))
  }

  /** DV-aware scan of `files` from snapshot `m`. Files WITHOUT deletion
    * vectors take the plain parquet path (zero overhead); files WITH them
    * read alongside their parquet `_metadata.row_index` and drop deleted
    * positions via a broadcast anti-join on (file, pos) — the
    * merge-on-read application. `keepFilePos` keeps `__file`/`__pos`
    * columns on every row (the MoR delete's match-addressing needs them). */
  private def readFiles(spark: SparkSession, root: String, m: Manifest,
      files: Seq[String], keepFilePos: Boolean = false): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col, substring_index}
    def emptyDf = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], m.schema)
    if (files.isEmpty)
      return if (!keepFilePos) emptyDf
        else emptyDf.withColumn("__file", org.apache.spark.sql.functions.lit(""))
          .withColumn("__pos", org.apache.spark.sql.functions.lit(0L))
    // files carry PHYSICAL column names; scan physical, alias back at the
    // end (a no-op select when the table has no renames)
    val pSchema = physSchema(m.schema, m.colmap)
    def scan(fs: Seq[String]) = spark.read.schema(pSchema)
      .parquet(fs.map(f => dataDir(root).resolve(f).toString): _*)
      .withColumn("__file", substring_index(col("_metadata.file_path"), "/", -1))
      .withColumn("__pos", col("_metadata.row_index"))
    val dvd = files.filter(m.dvs.contains)
    val plainFiles = files.filterNot(m.dvs.contains)
    val masked =
      if (dvd.isEmpty) None
      else {
        val dv = dvPositions(spark, root, m, dvd)
          .select(col("file_name").as("__df"), col("pos").as("__dp"))
        Some(scan(dvd).join(broadcast(dv),
          col("__file") === col("__df") && col("__pos") === col("__dp"),
          "left_anti"))
      }
    val plain =
      if (plainFiles.isEmpty) None
      else if (keepFilePos || masked.nonEmpty) Some(scan(plainFiles))
      else Some(spark.read.schema(pSchema)
        .parquet(plainFiles.map(f => dataDir(root).resolve(f).toString): _*))
    val joined = (plain, masked) match {
      case (Some(p), Some(q)) => p.unionByName(q)
      case (Some(p), None) => p
      case (None, Some(q)) => q
      case (None, None) => emptyDf
    }
    val out =
      if (keepFilePos) joined
      else if (joined.columns.contains("__file")) joined.drop("__file", "__pos")
      else joined
    if (m.colmap.isEmpty) out
    else {
      val dataCols = m.schema.fields.toSeq.map(f =>
        col(physName(m.colmap, f.name)).as(f.name))
      val extras = out.columns.toSeq.filter(c => c == "__file" || c == "__pos")
        .map(col)
      out.select(dataCols ++ extras: _*)
    }
  }

  /** Read a snapshot: the latest version, or a pinned `version` (time
    * travel). The schema comes from the manifest, so readers are immune to
    * later schema evolution; deletion vectors apply transparently. An
    * empty table (version 0) is an error. */
  def read(spark: SparkSession, root: String, version: Option[Int] = None): DataFrame = {
    val v = version.getOrElse(latestVersion(root))
    require(v > 0, s"snapshot table at $root has no committed version")
    val m = readManifest(root, v)
    readFiles(spark, root, m, m.files)
  }

  /** Zero-copy table CLONE (the Delta `CREATE TABLE ... CLONE` feature,
    * local-filesystem flavor): the source head's data files and deletion-
    * vector sidecars are HARD-LINKED into the target (O(1) storage, no
    * byte copy; `createLink` falls back to a real copy when the
    * filesystem refuses, e.g. cross-device), the live stats/DV map carries
    * over, and the target commits a fresh v1 checkpoint with op `clone`.
    * CHECK constraints are inherited. Version history and the change feed
    * are NOT cloned — the clone starts a new lineage at the cloned state
    * (Delta clone semantics).
    *
    * Two properties the manifest-reference "shallow clone" design does
    * NOT have: (1) a `vacuum` on the source can never corrupt the clone —
    * both sides own their directory entry, the inode lives until the last
    * link drops; (2) readers/writers need no foreign-path resolution —
    * every downstream op (merge, delete, compact, CDC) works on the clone
    * unchanged. Divergence after the clone is free: each side stages its
    * own new files; a rewritten file un-links, never mutates (data files
    * are immutable by protocol, so shared inodes are write-safe). */
  def clone(sourceRoot: String, targetRoot: String): Int = {
    val v = latestVersion(sourceRoot)
    require(v > 0, s"snapshot table at $sourceRoot has no committed version")
    require(latestVersion(targetRoot) == 0,
      s"clone target $targetRoot already has commits")
    val m = readManifest(sourceRoot, v)
    Files.createDirectories(manifestDir(targetRoot))
    Files.createDirectories(dataDir(targetRoot))
    def linkOrCopy(from: Path, to: Path): Unit =
      if (!Files.exists(to)) {
        try Files.createLink(to, from)
        catch {
          case _: UnsupportedOperationException | _: java.io.IOException =>
            Files.copy(from, to, StandardCopyOption.REPLACE_EXISTING)
        }
      }
    m.files.foreach { f =>
      linkOrCopy(dataDir(sourceRoot).resolve(f), dataDir(targetRoot).resolve(f))
    }
    val sidecars = m.dvs.valuesIterator.flatten.toSet
    if (sidecars.nonEmpty) Files.createDirectories(deletesDir(targetRoot))
    sidecars.foreach { s =>
      linkOrCopy(deletesDir(sourceRoot).resolve(s), deletesDir(targetRoot).resolve(s))
    }
    val checks = checkConstraints(sourceRoot)
    if (checks.nonEmpty) writeChecks(targetRoot, checks)
    val gens = generatedColumns(sourceRoot)
    if (gens.nonEmpty) writeGencols(targetRoot, gens)
    val committed = tryCommit(targetRoot, 0, "clone", m.schema.json,
      m.files, m.stats, dvs = m.dvs, colmap = m.colmap)
    require(committed > 0, s"clone target $targetRoot was committed concurrently")
    committed
  }

  /** The commit history as a DataFrame (the `DESCRIBE HISTORY` surface):
    * one row per version with the operation and live-file count. Walks raw
    * manifests (no data reads); oldest first. */
  def history(spark: SparkSession, root: String): DataFrame = {
    val rows = (1 to latestVersion(root)).map { v =>
      val m = readManifest(root, v)
      (v, readRaw(root, v).op, m.files.size.toLong)
    }
    import spark.implicits._
    rows.toDF("version", "op", "num_files")
  }

  /** Drop manifests older than the newest `keepVersions` and delete data
    * files no surviving manifest references — including ORPHANS that never
    * made a manifest (staged files of commit-race losers, e.g. a lost
    * [[merge]]). Readers pinned to vacuumed versions break.
    *
    * Never-committed orphans are AGE-GATED (`orphanRetentionMs`, default
    * 10 minutes): a concurrent writer's staged files look orphaned in the
    * window between its data-file move and its manifest commit, and an
    * ungated sweep would delete them — the committed manifest then
    * references missing files and the table is corrupt. Gating on file
    * mtime is the same defense Delta's VACUUM retention / Iceberg's
    * `older_than` orphan cleanup use. Files referenced by the DROPPED
    * manifests were durably committed (no in-flight writer can still be
    * staging them), so those delete immediately regardless of age. */
  def vacuum(root: String, keepVersions: Int = 1,
      orphanRetentionMs: Long = 10 * 60 * 1000L): Unit = {
    require(keepVersions >= 1, "must keep at least the current version")
    val latest = latestVersion(root)
    val keepFrom = math.max(1, latest - keepVersions + 1)
    val live = (keepFrom to latest)
      .flatMap(v => readManifest(root, v).files).toSet
    // chain closure: a surviving DELTA version still resolves through its
    // base manifests — those files must stay on disk even when their
    // versions are older than the retention line (they are resolution
    // bases, not readable snapshots; their data-file references are pruned
    // by the delta replay, so data liveness is unaffected)
    val closure = scala.collection.mutable.Set.empty[Int]
    (keepFrom to latest).foreach { v =>
      var r = readRaw(root, v)
      closure += v
      while (r.base.isDefined && !closure(r.base.get)) {
        closure += r.base.get
        r = readRaw(root, r.base.get)
      }
    }
    // files referenced only by dropped versions: resolve BEFORE deleting
    // their manifests; a version whose own chain was broken by an earlier
    // vacuum is unresolvable — its files fall to the age-gated sweep
    val droppable = (1 until keepFrom)
      .filterNot(closure)
      .filter(v => Files.exists(manifestPath(root, v)))
    val dropped = droppable.flatMap(v =>
      scala.util.Try(readManifest(root, v).files).getOrElse(Nil)).toSet -- live
    // row-level change files follow their owning manifest: referenced by a
    // surviving version (incl. chain bases) → live; referenced only by a
    // dropped version → delete now; never-committed (race loser) → age gate
    val liveCdc = closure.toSeq
      .flatMap(v => scala.util.Try(readRaw(root, v).cdc).getOrElse(Nil)).toSet
    val droppedCdc = droppable.flatMap(v =>
      scala.util.Try(readRaw(root, v).cdc).getOrElse(Nil)).toSet -- liveCdc
    // deletion-vector sidecars: any sidecar a SURVIVING raw manifest
    // mentions stays (resolution only ever selects from those lines, so
    // this is a safe superset of the resolvable-live set)
    val liveDv = closure.toSeq.flatMap(v =>
      scala.util.Try(readRaw(root, v).dvSet.values.flatten.toSeq)
        .getOrElse(Nil)).toSet
    val droppedDv = droppable.flatMap(v =>
      scala.util.Try(readRaw(root, v).dvSet.values.flatten.toSeq)
        .getOrElse(Nil)).toSet -- liveDv
    droppable.foreach(v => Files.delete(manifestPath(root, v)))
    val cutoff = System.currentTimeMillis() - math.max(0L, orphanRetentionMs)
    def sweep(dir: Path, liveSet: Set[String], droppedSet: Set[String]): Unit =
      if (Files.isDirectory(dir))
        listDir(dir)(_.filter { p =>
          val name = p.getFileName.toString
          !liveSet(name) && (droppedSet(name) ||
            Files.getLastModifiedTime(p).toMillis < cutoff)
        }.toList).foreach(p => Files.deleteIfExists(p))
    sweep(dataDir(root), live, dropped)
    sweep(changesDir(root), liveCdc, droppedCdc)
    sweep(deletesDir(root), liveDv, droppedDv)
  }
}
