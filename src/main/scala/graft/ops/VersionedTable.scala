package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.{Footers, TableFs}

/** Snapshot-versioned table storage (poor-man's Delta/Iceberg): data
  * lives in immutable per-commit directories, and each version is a
  * MANIFEST — a tiny text file listing exactly the data files visible
  * at that version. Appends add files and never touch existing ones;
  * deletes are either copy-on-write at file granularity
  * ([[deleteWhere]]) or merge-on-read DELETION VECTORS
  * ([[deleteWhereDV]]: a tombstone sidecar of (file, row) positions —
  * no data file is written at all, and compaction folds the vectors
  * in). Readers pin a manifest, so they see an immutable snapshot no
  * matter what maintenance runs concurrently, and `readVersion(v)`
  * time-travels to any historical state for free — the core primitive
  * behind reproducible training-data snapshots ("the exact corpus the
  * 2024-03 run trained on") at 100 TB, where copying the data per
  * version is unthinkable but copying a file LIST is nothing.
  *
  * Manifest format (one record per line, backward compatible with the
  * r10 plain-list form):
  *   - `cNNNNN/part-*.parquet`            a data file (plain line)
  *   - `dv:dNNNNN/part-*.parquet`         a deletion-vector sidecar
  *     (parquet of `file STRING, pos LONG` — manifest-relative data
  *     file + row index within it)
  *   - `zs\tZCOL\tZMIN\tZMAX\tREL`        per-file clustering stats
  *     written by [[compactClustered]]; files WITHOUT stats are always
  *     read (conservative), so appends after a clustered compaction
  *     stay correct and merely dilute pruning until the next OPTIMIZE
  *   - `bf\tKEYCOL\tBITS\tHASHES\tREL`    per-file bloom sidecar refs
  *     written by [[buildBloomIndex]] — point lookups on an UNclustered
  *     key open only bloom-candidate files ([[keyLookupFiles]])
  *   - `#batch=N`                         streaming idempotence record
  *     ([[appendIdempotent]])
  *   - `#ts=EPOCH_MILLIS`                 commit timestamp, strictly
  *     monotonic per table ([[readAsOfTimestamp]] time travel)
  *   - data/dv entries may also be ABSOLUTE paths into another table —
  *     shallow clones ([[cloneTable]]) reference the source's files
  *     without copying a byte
  *
  * Crash/concurrency story: commit DATA is written first (with
  * overwrite, so a replayed crashed commit recovers instead of wedging
  * on its own orphan directory), and the manifest write is
  * CREATE-EXCLUSIVE — the atomic commit point. Two writers racing to
  * the same version: one commits, the other fails loudly. Manifest
  * I/O runs on the Hadoop FileSystem API ([[graft.io.TableFs]]), so
  * the same code serves local paths, HDFS, or object stores.
  *
  * Scale notes: manifests are file-count-sized; commit k's data dir is
  * written by a normal distributed parquet write; the affected-file
  * probe in [[deleteWhere]] is a column-pruned distributed scan of the
  * CURRENT file set only, and the rewrite reads only the affected
  * files. Deletion-vector application is a distributed anti-join whose
  * build side is the (deleted-row-count-sized) vector relation — AQE
  * broadcasts it while it is small. Nothing here is driver-sized
  * except the file list itself.
  */
object VersionedTable {

  // ---------------------------------------------------------------- //
  // manifest model + I/O

  /** A per-file bloom sidecar reference: `rel` is a parquet file of
    * `(file STRING, positions ARRAY<INT>)` — for each data file, the
    * sorted set of bit positions its `keyCol` values light up under
    * `hashes` seeded xxhash64 draws modulo `bits`.
    */
  final case class BloomRef(keyCol: String, bits: Int, hashes: Int,
                            rel: String)

  /** Parsed manifest: `data` and `dvs` are table-relative paths — or
    * ABSOLUTE paths into another table for shallow clones
    * ([[cloneTable]]); `stats` maps a data file to its per-column
    * [min, max] clustering bands (one for 1-D clustering, one PER
    * DIMENSION for z-order — [[compactClustered]]/
    * [[compactClusteredZOrder]]); `blooms` are per-file bloom sidecars
    * ([[buildBloomIndex]]); `batch` is the streaming batch id this
    * commit recorded; `ts` is the commit wall-clock in epoch millis
    * (strictly monotonic per table — [[readAsOfTimestamp]] resolves
    * time-travel-by-timestamp through it).
    */
  final case class Manifest(
      data: Seq[String],
      dvs: Seq[String],
      stats: Map[String, Map[String, (Double, Double)]],
      batch: Option[Long],
      blooms: Seq[BloomRef] = Nil,
      rowCounts: Map[String, Long] = Map.empty,
      ts: Option[Long] = None,
      partCol: Option[String] = None,
      partValues: Map[String, String] = Map.empty,
      nullCounts: Map[String, Map[String, Long]] = Map.empty,
      extraCols: Seq[(String, org.apache.spark.sql.types.DataType)] = Nil,
      cdc: Seq[String] = Nil,
      txn: Option[String] = None,
      colMap: Seq[(String, String)] = Nil)

  /** A manifest entry is either table-relative (`cNNNNN/part-..`) or an
    * absolute/URI reference into ANOTHER table (shallow clones).
    */
  private def isAbsRef(rel: String): Boolean =
    rel.startsWith("/") || rel.contains("://")

  /** Resolve a manifest entry to a readable path. */
  private[graft] def absPath(path: String, rel: String): String =
    if (isAbsRef(rel)) rel else s"$path/$rel"

  private def manifestDir(path: String): String = s"$path/_manifests"

  private def manifestFile(path: String, v: Int): String =
    f"${manifestDir(path)}/v$v%05d.txt"

  /** Highest committed version, -1 if none. The manifest write is a
    * single exclusive file creation, so a version either exists
    * completely or not at all.
    */
  def latestVersion(path: String): Int =
    TableFs.listNames(manifestDir(path))
      .filter(_.matches("v\\d{5}\\.txt"))
      .map(_.slice(1, 6).toInt)
      .foldLeft(-1)(math.max)

  // ---------------------------------------------------------------- //
  // DELTA-LOG manifests (r12 verdict #1): a commit writes either a
  // CHECKPOINT (the full snapshot — the pre-r13 format, so every
  // existing manifest parses unchanged) or a DELTA — only the commit's
  // add/remove actions plus metadata for the ADDED files. Cost of a
  // commit is then O(delta), not O(table-files): appending one file to
  // a million-file table writes a few lines, not a million. Reads fold
  // the nearest checkpoint at-or-below `v` forward through the delta
  // tail; [[checkpointInterval]] bounds the fold depth (every Nth
  // version checkpoints), whole-snapshot verbs (init/OPTIMIZE/
  // overwrite) checkpoint naturally via the size heuristic, and
  // [[vacuum]] materializes the earliest kept version into a
  // checkpoint before dropping its ancestors so the kept tail keeps
  // folding.
  //
  // Delta file format: first line `#delta`, then
  //   `#ts=` / `#batch=`       this commit's tags (not inherited)
  //   `+<rel>` / `-<rel>`      data file added / removed
  //   `+dv:<rel>` / `-dv:<rel>` deletion-vector sidecar added / removed
  //   `zs/bf/rc/pv/nc` lines   metadata for ADDED files (additive;
  //                            removed files implicitly drop theirs)
  //   `bfx\t<keyCol>`          drop every bloom ref for the column
  //                            (before this delta's `bf` adds apply)

  /** Versions folding a delta chain may walk back through before a
    * checkpoint MUST appear — the commit writer checkpoints at every
    * multiple of this (and whenever a delta would not be smaller).
    */
  private[graft] val checkpointInterval = 10

  private def rawManifest(path: String, v: Int): Seq[String] = {
    val f = manifestFile(path, v)
    require(TableFs.exists(f), s"no version $v at $path")
    TableFs.readUtf8(f).split("\n").toSeq.filter(_.nonEmpty)
  }

  private def isDelta(lines: Seq[String]): Boolean =
    lines.headOption.contains("#delta")

  // ---- format-feature guard (the Delta reader-protocol shape) ---- //
  // A manifest may carry `#requires=<feature>` tags naming the format
  // features a reader MUST understand to interpret it correctly. An
  // unknown tag refuses LOUDLY instead of misreading: the hazard class
  // is real — a reader that did not know the `#ckpt=` pointer form
  // would filter it as a comment and silently serve an EMPTY table.
  // Writers tag exactly the features a manifest actually uses, so
  // tables never opting into a feature stay readable by older code.

  /** Format features this reader understands. */
  private[graft] val supportedFeatures: Set[String] =
    Set("ckpt-parquet", "column-mapping")

  private def checkRequires(f: String, lines: Seq[String]): Unit = {
    val unknown = lines.filter(_.startsWith("#requires="))
      .map(_.stripPrefix("#requires=").trim)
      .filterNot(supportedFeatures.contains)
    require(unknown.isEmpty,
      s"manifest $f requires unsupported format feature(s) " +
        s"${unknown.mkString(", ")} — written by a newer engine; " +
        "upgrade the reader (refusing rather than misreading)")
  }

  /** The `#requires=` tags a manifest body needs. */
  private def requiresLines(usesCkptPtr: Boolean,
                            colMap: Seq[(String, String)]): Seq[String] =
    (if (usesCkptPtr) Seq("#requires=ckpt-parquet") else Nil) ++
      (if (colMap.nonEmpty) Seq("#requires=column-mapping") else Nil)

  def readManifest(path: String, v: Int): Manifest = {
    val lines = rawManifest(path, v)
    checkRequires(manifestFile(path, v), lines)
    if (isDelta(lines)) foldDelta(readManifest(path, v - 1), lines)
    else parseCheckpoint(manifestFile(path, v), lines)
  }

  private def parseCheckpoint(f: String, lines: Seq[String]): Manifest = {
    // parquet-sidecar checkpoint: the text commit point carries only a
    // pointer + per-version tags; the snapshot body is columnar
    lines.find(_.startsWith("#ckpt=")).foreach { ptr =>
      val dir = f.substring(0, f.lastIndexOf('/'))
      val base = readCheckpointParquet(
        s"$dir/${ptr.stripPrefix("#ckpt=").trim}")
      return base.copy(
        batch = lines.find(_.startsWith("#batch="))
          .map(_.stripPrefix("#batch=").trim.toLong),
        ts = lines.find(_.startsWith("#ts="))
          .map(_.stripPrefix("#ts=").trim.toLong),
        txn = lines.find(_.startsWith("#txn="))
          .map(_.stripPrefix("#txn=").trim),
        cdc = lines.filter(_.startsWith("#cdc="))
          .map(_.stripPrefix("#cdc=").trim))
    }
    val stats = lines.filter(_.startsWith("zs\t")).map { l =>
      val p = l.split("\t")
      require(p.length == 5, s"bad stats line in $f: $l")
      (p(4), p(1), p(2).toDouble, p(3).toDouble)
    }.groupBy(_._1).view.mapValues(
      _.map { case (_, zc, lo, hi) => zc -> (lo, hi) }.toMap).toMap
    val blooms = lines.filter(_.startsWith("bf\t")).map { l =>
      val p = l.split("\t")
      require(p.length == 5, s"bad bloom line in $f: $l")
      BloomRef(p(1), p(2).toInt, p(3).toInt, p(4))
    }
    val rowCounts = lines.filter(_.startsWith("rc\t")).map { l =>
      val p = l.split("\t")
      require(p.length == 3, s"bad row-count line in $f: $l")
      p(2) -> p(1).toLong
    }.toMap
    val ncLines = lines.filter(_.startsWith("nc\t")).map { l =>
      val p = l.split("\t")
      require(p.length == 4, s"bad null-count line in $f: $l")
      (p(3), p(1), p(2).toLong) // (rel, col, nulls)
    }
    val xcLines = lines.filter(_.startsWith("xc\t")).map { l =>
      val p = l.split("\t")
      require(p.length == 3, s"bad extra-column line in $f: $l")
      p(1) -> org.apache.spark.sql.types.DataType.fromJson(p(2))
    }
    val pvLines = lines.filter(_.startsWith("pv\t")).map { l =>
      val p = l.split("\t")
      require(p.length == 4, s"bad partition-value line in $f: $l")
      (p(1), p(3), p(2)) // (col, rel, value)
    }
    val cmLines = lines.filter(_.startsWith("cm\t")).map { l =>
      val p = l.split("\t")
      require(p.length == 3, s"bad column-mapping line in $f: $l")
      p(1) -> p(2)
    }
    Manifest(
      data = lines.filterNot(l =>
        l.startsWith("dv:") || l.startsWith("zs\t") ||
          l.startsWith("bf\t") || l.startsWith("rc\t") ||
          l.startsWith("pv\t") || l.startsWith("nc\t") ||
          l.startsWith("xc\t") || l.startsWith("cm\t") ||
          l.startsWith("#")),
      dvs = lines.filter(_.startsWith("dv:")).map(_.stripPrefix("dv:")),
      stats = stats,
      batch = lines.find(_.startsWith("#batch="))
        .map(_.stripPrefix("#batch=").trim.toLong),
      blooms = blooms,
      rowCounts = rowCounts,
      ts = lines.find(_.startsWith("#ts="))
        .map(_.stripPrefix("#ts=").trim.toLong),
      txn = lines.find(_.startsWith("#txn="))
        .map(_.stripPrefix("#txn=").trim),
      cdc = lines.filter(_.startsWith("#cdc="))
        .map(_.stripPrefix("#cdc=").trim),
      partCol = pvLines.headOption.map(_._1),
      partValues = pvLines.map(t => t._2 -> t._3).toMap,
      nullCounts = ncLines.groupBy(_._1).view.mapValues(
        _.map(t => t._2 -> t._3).toMap).toMap,
      extraCols = xcLines,
      colMap = cmLines)
  }

  /** Data files of version `v`, as `commitDir/partFile` relative paths
    * (deletion-vector sidecars and metadata excluded).
    */
  def manifestFiles(path: String, v: Int): Seq[String] =
    readManifest(path, v).data

  /** Deletion-vector sidecars of version `v` (relative paths). */
  def manifestDvFiles(path: String, v: Int): Seq[String] =
    readManifest(path, v).dvs

  /** Apply a delta manifest's actions to its predecessor snapshot.
    * `batch`/`ts` are per-version tags (never inherited); metadata of
    * removed files drops implicitly; `bfx` clears a column's bloom
    * refs before the delta's own `bf` adds apply.
    */
  private def foldDelta(base: Manifest, lines: Seq[String]): Manifest = {
    val body = lines.drop(1)
    def data(prefix: String) = body
      .filter(l => l.startsWith(prefix) && !l.startsWith(prefix + "dv:"))
      .map(_.stripPrefix(prefix))
    val addData = data("+")
    val removeData = data("-").toSet
    val addDv = body.filter(_.startsWith("+dv:")).map(_.stripPrefix("+dv:"))
    val removeDv = body.filter(_.startsWith("-dv:"))
      .map(_.stripPrefix("-dv:")).toSet
    val meta = parseCheckpoint("<delta>", body.filter(l =>
      l.startsWith("zs\t") || l.startsWith("bf\t") ||
        l.startsWith("rc\t") || l.startsWith("pv\t") ||
        l.startsWith("nc\t") || l.startsWith("xc\t") ||
        l.startsWith("cm\t") || l.startsWith("#")))
    val bfx = body.filter(_.startsWith("bfx\t"))
      .map(_.split("\t")(1)).toSet
    Manifest(
      data = base.data.filterNot(removeData) ++ addData,
      dvs = base.dvs.filterNot(removeDv) ++ addDv,
      stats = (base.stats -- removeData) ++ meta.stats,
      batch = meta.batch,
      blooms = base.blooms.filterNot(b => bfx.contains(b.keyCol)) ++
        meta.blooms,
      rowCounts = (base.rowCounts -- removeData) ++ meta.rowCounts,
      ts = meta.ts,
      partCol = meta.partCol.orElse(base.partCol),
      partValues = (base.partValues -- removeData) ++ meta.partValues,
      nullCounts = (base.nullCounts -- removeData) ++ meta.nullCounts,
      extraCols = base.extraCols ++
        meta.extraCols.filterNot(x => base.extraCols.exists(_._1 == x._1)),
      cdc = meta.cdc,
      txn = meta.txn,
      // column mapping: a delta's cm lines REPLACE the whole map (a
      // rename/drop is a map rewrite, not an append); absent → inherit
      colMap = if (meta.colMap.nonEmpty) meta.colMap else base.colMap)
  }

  /** The add/remove actions of commit `v`: (added data files, removed
    * data files, deletion vectors changed?). O(delta) for delta
    * commits — the actions are literally the file's lines, NO
    * predecessor fold; a checkpoint commit diffs against v-1 (v0 is
    * all-added by definition). Feeds the streaming sources' per-commit
    * change sets and the micro-batch admission control (r12 ADVICE:
    * the old loop re-read two full manifests per candidate version).
    */
  def commitChanges(path: String, v: Int): (Seq[String], Seq[String], Boolean) = {
    val a = commitActions(path, v)
    (a.addedData, a.removedData,
      a.addedDvs.nonEmpty || a.removedDvs.nonEmpty)
  }

  /** Full action set of one commit — the [[commitChanges]] triple plus
    * the deletion-vector sidecar adds/removes (the streaming change
    * feed turns a commit's added DV positions into exact 'removed'
    * rows).
    */
  final case class CommitActions(addedData: Seq[String],
                                 removedData: Seq[String],
                                 addedDvs: Seq[String],
                                 removedDvs: Seq[String],
                                 cdcFiles: Seq[String] = Nil)

  def commitActions(path: String, v: Int): CommitActions = {
    val lines = rawManifest(path, v)
    if (isDelta(lines)) {
      val body = lines.drop(1)
      def data(prefix: String) = body
        .filter(l => l.startsWith(prefix) && !l.startsWith(prefix + "dv:"))
        .map(_.stripPrefix(prefix))
      def dv(prefix: String) = body
        .filter(_.startsWith(prefix)).map(_.stripPrefix(prefix))
      CommitActions(data("+"), data("-"), dv("+dv:"), dv("-dv:"),
        body.filter(_.startsWith("#cdc=")).map(_.stripPrefix("#cdc=")))
    } else {
      val m = parseCheckpoint(manifestFile(path, v), lines)
      if (v == 0) CommitActions(m.data, Nil, m.dvs, Nil, m.cdc)
      else {
        val prev = readManifest(path, v - 1)
        val prevData = prev.data.toSet
        val curData = m.data.toSet
        val prevDv = prev.dvs.toSet
        val curDv = m.dvs.toSet
        CommitActions(
          m.data.filterNot(prevData), prev.data.filterNot(curData),
          m.dvs.filterNot(prevDv), prev.dvs.filterNot(curDv), m.cdc)
      }
    }
  }

  /** The PER-VERSION tag lines (never inherited across delta folds). */
  private def tagLines(m: Manifest): Seq[String] =
    m.ts.map(t => s"#ts=$t").toSeq ++
      m.batch.map(b => s"#batch=$b").toSeq ++
      m.txn.map(t => s"#txn=$t").toSeq ++
      m.cdc.map(r => s"#cdc=$r")

  /** Full-snapshot (checkpoint) body of `m`. */
  private[graft] def checkpointLines(m: Manifest): Seq[String] =
    tagLines(m) ++
      m.data.sorted ++
      m.dvs.sorted.map("dv:" + _) ++
      statLines(m.stats) ++
      bloomLines(m.blooms) ++
      rcLines(m.rowCounts) ++
      pvLines(m.partCol, m.partValues) ++
      ncLines(m.nullCounts) ++
      xcLines(m.extraCols) ++
      cmLines(m.colMap)

  private def statLines(
      stats: Map[String, Map[String, (Double, Double)]]): Seq[String] =
    stats.toSeq.sortBy(_._1).flatMap { case (rel, byCol) =>
      byCol.toSeq.sortBy(_._1).map { case (zc, (lo, hi)) =>
        s"zs\t$zc\t$lo\t$hi\t$rel"
      }
    }

  private def bloomLines(blooms: Seq[BloomRef]): Seq[String] =
    blooms.sortBy(_.rel).map(b =>
      s"bf\t${b.keyCol}\t${b.bits}\t${b.hashes}\t${b.rel}")

  private def rcLines(rowCounts: Map[String, Long]): Seq[String] =
    rowCounts.toSeq.sortBy(_._1).map { case (rel, n) => s"rc\t$n\t$rel" }

  private def pvLines(partCol: Option[String],
                      partValues: Map[String, String]): Seq[String] =
    partValues.toSeq.sortBy(_._1).flatMap { case (rel, v2) =>
      partCol.map(pc => s"pv\t$pc\t$v2\t$rel")
    }

  private def xcLines(
      extraCols: Seq[(String, org.apache.spark.sql.types.DataType)])
      : Seq[String] =
    extraCols.map { case (n, dt) => s"xc\t$n\t${dt.json}" }

  private def ncLines(
      nullCounts: Map[String, Map[String, Long]]): Seq[String] =
    nullCounts.toSeq.sortBy(_._1).flatMap { case (rel, byCol) =>
      byCol.toSeq.sortBy(_._1).map { case (c, n) => s"nc\t$c\t$n\t$rel" }
    }

  /** Column-mapping lines, IN ORDER (the map's order IS the logical
    * schema order).
    */
  private def cmLines(colMap: Seq[(String, String)]): Seq[String] =
    colMap.map { case (l, p) => s"cm\t$l\t$p" }

  // ---------------------------------------------------------------- //
  // PARQUET checkpoint manifests (r13 verdict #2): a checkpoint of a
  // LARGE table stores its snapshot as one columnar parquet sidecar
  // (`_manifests/vNNNNN.<uuid>.checkpoint.parquet`, one row per entry,
  // dictionary+snappy — the Delta parquet-checkpoint shape) instead of
  // ~320 text bytes per file parsed line-by-line on the driver: at a
  // million files the text form is a ~300MB string built per
  // checkpoint and re-parsed on every cold read. The COMMIT POINT is
  // unchanged — the create-exclusive vNNNNN.txt — it just carries a
  // `#ckpt=<sidecar>` pointer plus the per-version tags; the sidecar
  // is written FIRST under a unique name, so a crashed or retried
  // commit leaves only an orphan sidecar (vacuum reclaims). Small
  // tables keep inline text checkpoints (below the threshold a second
  // file costs more than it saves); deltas are text always.

  /** Manifest entry count at/above which a checkpoint writes the
    * parquet sidecar form. Tunable for probes/tests.
    */
  @volatile private[graft] var parquetCheckpointMinEntries: Int = 256

  private val ckptSchema = {
    import org.apache.parquet.schema.{LogicalTypeAnnotation, PrimitiveType, Types}
    Types.buildMessage()
      .required(PrimitiveType.PrimitiveTypeName.BINARY)
      .as(LogicalTypeAnnotation.stringType()).named("kind")
      .required(PrimitiveType.PrimitiveTypeName.BINARY)
      .as(LogicalTypeAnnotation.stringType()).named("rel")
      .optional(PrimitiveType.PrimitiveTypeName.INT64).named("rc")
      .optional(PrimitiveType.PrimitiveTypeName.BINARY)
      .as(LogicalTypeAnnotation.stringType()).named("pv")
      .optional(PrimitiveType.PrimitiveTypeName.BINARY)
      .as(LogicalTypeAnnotation.stringType()).named("stats")
      .optional(PrimitiveType.PrimitiveTypeName.BINARY)
      .as(LogicalTypeAnnotation.stringType()).named("nulls")
      .optional(PrimitiveType.PrimitiveTypeName.BINARY)
      .as(LogicalTypeAnnotation.stringType()).named("bloomKey")
      .optional(PrimitiveType.PrimitiveTypeName.INT32).named("bloomBits")
      .optional(PrimitiveType.PrimitiveTypeName.INT32)
      .named("bloomHashes")
      .optional(PrimitiveType.PrimitiveTypeName.BINARY)
      .as(LogicalTypeAnnotation.stringType()).named("xcType")
      .optional(PrimitiveType.PrimitiveTypeName.BINARY)
      .as(LogicalTypeAnnotation.stringType()).named("phys")
      .named("graft_ckpt")
  }

  /** Write `m` (minus per-version tags) as a parquet checkpoint
    * sidecar; returns the sidecar's file name (relative to
    * `_manifests/`). Driver-side parquet-mr write — no Spark job.
    */
  private[graft] def writeCheckpointParquet(path: String, v: Int,
                                     m: Manifest): String = {
    import org.apache.parquet.example.data.simple.SimpleGroup
    val name = f"v$v%05d." +
      java.util.UUID.randomUUID().toString.take(8) + ".checkpoint.parquet"
    val w = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(s"${manifestDir(path)}/$name"))
      .withConf(TableFs.hadoopConf)
      .withType(ckptSchema)
      .withCompressionCodec(
        org.apache.parquet.hadoop.metadata.CompressionCodecName.SNAPPY)
      .build()
    try {
      m.data.sorted.foreach { rel =>
        val g = new SimpleGroup(ckptSchema)
        g.add("kind", "data"); g.add("rel", rel)
        m.rowCounts.get(rel).foreach(n => g.add("rc", n))
        m.partValues.get(rel).foreach(pv => g.add("pv", pv))
        m.stats.get(rel).foreach(byCol => g.add("stats",
          byCol.toSeq.sortBy(_._1)
            .map { case (c, (lo, hi)) => s"$c\t$lo\t$hi" }
            .mkString("\n")))
        m.nullCounts.get(rel).foreach(byCol => g.add("nulls",
          byCol.toSeq.sortBy(_._1)
            .map { case (c, n) => s"$c\t$n" }.mkString("\n")))
        w.write(g)
      }
      m.dvs.sorted.foreach { rel =>
        val g = new SimpleGroup(ckptSchema)
        g.add("kind", "dv"); g.add("rel", rel); w.write(g)
      }
      m.blooms.sortBy(_.rel).foreach { b =>
        val g = new SimpleGroup(ckptSchema)
        g.add("kind", "bloom"); g.add("rel", b.rel)
        g.add("bloomKey", b.keyCol); g.add("bloomBits", b.bits)
        g.add("bloomHashes", b.hashes); w.write(g)
      }
      m.extraCols.foreach { case (n, dt) =>
        val g = new SimpleGroup(ckptSchema)
        g.add("kind", "xc"); g.add("rel", n); g.add("xcType", dt.json)
        w.write(g)
      }
      m.partCol.foreach { pc =>
        val g = new SimpleGroup(ckptSchema)
        g.add("kind", "pc"); g.add("rel", pc); w.write(g)
      }
      m.colMap.zipWithIndex.foreach { case ((l, p), i) =>
        val g = new SimpleGroup(ckptSchema)
        // rel carries an order prefix: the map's order IS the logical
        // schema order, and parquet rows have no guaranteed read order
        g.add("kind", "cm"); g.add("rel", f"$i%05d\t$l"); g.add("phys", p)
        w.write(g)
      }
    } finally w.close()
    name
  }

  /** Read a parquet checkpoint sidecar back into a (tagless) Manifest. */
  private def readCheckpointParquet(file: String): Manifest = {
    val reader = org.apache.parquet.hadoop.ParquetReader
      .builder(new org.apache.parquet.hadoop.example.GroupReadSupport(),
        new org.apache.hadoop.fs.Path(file))
      .withConf(TableFs.hadoopConf)
      .build()
    val data = Seq.newBuilder[String]
    val dvs = Seq.newBuilder[String]
    val blooms = Seq.newBuilder[BloomRef]
    val xc = Seq.newBuilder[(String, org.apache.spark.sql.types.DataType)]
    val stats = Map.newBuilder[String, Map[String, (Double, Double)]]
    val rcs = Map.newBuilder[String, Long]
    val pvs = Map.newBuilder[String, String]
    val ncs = Map.newBuilder[String, Map[String, Long]]
    val cms = Seq.newBuilder[(Int, String, String)]
    var partCol: Option[String] = None
    try {
      var g = reader.read()
      while (g != null) {
        def has(f2: String) = g.getFieldRepetitionCount(f2) > 0
        val rel = g.getString("rel", 0)
        g.getString("kind", 0) match {
          case "data" =>
            data += rel
            if (has("rc")) rcs += rel -> g.getLong("rc", 0)
            if (has("pv")) pvs += rel -> g.getString("pv", 0)
            if (has("stats")) stats += rel ->
              g.getString("stats", 0).split("\n").map { l =>
                val p = l.split("\t")
                p(0) -> (p(1).toDouble, p(2).toDouble)
              }.toMap
            if (has("nulls")) ncs += rel ->
              g.getString("nulls", 0).split("\n").map { l =>
                val p = l.split("\t")
                p(0) -> p(1).toLong
              }.toMap
          case "dv" => dvs += rel
          case "bloom" => blooms += BloomRef(g.getString("bloomKey", 0),
            g.getInteger("bloomBits", 0), g.getInteger("bloomHashes", 0),
            rel)
          case "xc" => xc += rel ->
            org.apache.spark.sql.types.DataType
              .fromJson(g.getString("xcType", 0))
          case "pc" => partCol = Some(rel)
          case "cm" =>
            val Array(idx, logical) = rel.split("\t", 2)
            cms += ((idx.toInt, logical, g.getString("phys", 0)))
          case other => sys.error(s"bad checkpoint row kind '$other' in $file")
        }
        g = reader.read()
      }
    } finally reader.close()
    Manifest(data.result(), dvs.result(), stats.result(), None,
      blooms.result(), rcs.result(), None, partCol, pvs.result(),
      ncs.result(), xc.result(),
      colMap = cms.result().sortBy(_._1).map(t => t._2 -> t._3))
  }

  /** Checkpoint payload for the commit-point text file: inline text
    * lines below [[parquetCheckpointMinEntries]], a parquet-sidecar
    * pointer (written first, unique name) at/above it.
    */
  private def checkpointPayload(path: String, v: Int,
                                m: Manifest): Seq[String] = {
    val entries = m.data.size + m.dvs.size + m.blooms.size
    if (entries < parquetCheckpointMinEntries)
      requiresLines(usesCkptPtr = false, m.colMap) ++ checkpointLines(m)
    else requiresLines(usesCkptPtr = true, m.colMap) ++ tagLines(m) :+
      s"#ckpt=${writeCheckpointParquet(path, v, m)}"
  }

  /** Commit timestamp: wall clock, forced STRICTLY monotonic per table
    * (two commits inside one millisecond would otherwise tie, making
    * timestamp time travel ambiguous — the Delta discipline).
    */
  private def nextTs(prevTs: Option[Long]): Long =
    math.max(System.currentTimeMillis(), prevTs.map(_ + 1L).getOrElse(0L))

  /** Full-snapshot manifest write — the path for commits with no usable
    * predecessor (v0 init/clone) and for whole-snapshot rewrites
    * (OPTIMIZE), whose delta would be remove-all + add-all anyway.
    */
  private def writeManifest(path: String, v: Int, m: Manifest): Unit = {
    val prevTs =
      if (v > 0 && TableFs.exists(manifestFile(path, v - 1)))
        readManifest(path, v - 1).ts
      else None
    TableFs.writeUtf8Exclusive(manifestFile(path, v),
      checkpointPayload(path, v, m.copy(ts = Some(nextTs(prevTs))))
        .mkString("\n"))
  }

  /** Delta body representing `next` relative to `prev` — None when the
    * change is not delta-representable: metadata vanished from a
    * CARRIED file (the fold can only drop metadata with its file), or
    * the partition column changed.
    */
  private def deltaBody(prev: Manifest, next: Manifest): Option[Seq[String]] = {
    if (prev.partCol.isDefined && next.partCol != prev.partCol) return None
    val prevData = prev.data.toSet
    val nextData = next.data.toSet
    val addData = next.data.filterNot(prevData)
    val removeData = prev.data.filterNot(nextData)
    val removedSet = removeData.toSet
    val addDv = next.dvs.filterNot(prev.dvs.toSet)
    val removeDv = prev.dvs.filterNot(next.dvs.toSet)
    // per-file metadata: the delta may only ADD/OVERRIDE entries; an
    // entry a carried file LOST is unrepresentable
    def diffMap[A](prevM: Map[String, A],
                   nextM: Map[String, A]): Option[Map[String, A]] = {
      val carried = prevM -- removedSet
      if ((carried.keySet -- nextM.keySet).nonEmpty) None
      else Some(nextM.filter { case (k, a) => !carried.get(k).contains(a) })
    }
    // extra (ALTER-added) columns: the fold only appends, so a
    // removed/changed entry is unrepresentable
    val prevXc = prev.extraCols.toMap
    if (!prev.extraCols.forall(x => next.extraCols.contains(x))) return None
    val xcAdd = next.extraCols.filterNot(x => prevXc.get(x._1).contains(x._2))
    for {
      statAdd <- diffMap(prev.stats, next.stats)
      rcAdd <- diffMap(prev.rowCounts, next.rowCounts)
      ncAdd <- diffMap(prev.nullCounts, next.nullCounts)
      pvAdd <- diffMap(prev.partValues, next.partValues)
    } yield {
      def byCol(b: Seq[BloomRef]) =
        b.groupBy(_.keyCol).view.mapValues(_.toSet).toMap
      val pb = byCol(prev.blooms)
      val nb = byCol(next.blooms)
      val bloomCols = (pb.keySet ++ nb.keySet)
        .filter(c => pb.get(c) != nb.get(c)).toSeq.sorted
      // a delta INTRODUCING a mapping (or changing one) tags the
      // requirement; an already-mapped table's unchanged deltas need
      // no tag — the checkpoint they fold over carries it
      (if (next.colMap != prev.colMap && next.colMap.nonEmpty)
        Seq("#requires=column-mapping")
      else Nil) ++
        next.ts.map(t => s"#ts=$t").toSeq ++
        next.batch.map(b => s"#batch=$b").toSeq ++
        next.txn.map(t => s"#txn=$t").toSeq ++
        next.cdc.map(r => s"#cdc=$r") ++
        addData.sorted.map("+" + _) ++
        removeData.sorted.map("-" + _) ++
        addDv.sorted.map("+dv:" + _) ++
        removeDv.sorted.map("-dv:" + _) ++
        statLines(statAdd) ++
        bloomCols.map(c => s"bfx\t$c") ++
        bloomLines(next.blooms.filter(b => bloomCols.contains(b.keyCol))) ++
        rcLines(rcAdd) ++
        pvLines(next.partCol, pvAdd) ++
        ncLines(ncAdd) ++
        xcLines(xcAdd) ++
        // a changed column mapping rides as a REPLACE-ALL set of cm
        // lines (O(columns), so a rename/drop on a million-file table
        // is still a few-line delta); unchanged → no lines, inherit
        (if (next.colMap != prev.colMap) cmLines(next.colMap) else Nil)
    }
  }

  /** THE commit writer for every verb that holds its predecessor
    * snapshot: writes a DELTA manifest when one is representable and
    * smaller than the full snapshot, a CHECKPOINT otherwise — and
    * always a checkpoint at multiples of [[checkpointInterval]], so a
    * read folds at most that many deltas. Same create-exclusive commit
    * point as ever.
    */
  private def commitManifest(path: String, v: Int, prev: Manifest,
                             next: Manifest): Unit = {
    val stamped = next.copy(ts = Some(nextTs(prev.ts)))
    val fullCount = 2 + stamped.data.size + stamped.dvs.size +
      stamped.stats.valuesIterator.map(_.size).sum +
      stamped.blooms.size + stamped.rowCounts.size +
      stamped.partValues.size + stamped.extraCols.size +
      stamped.nullCounts.valuesIterator.map(_.size).sum
    val out =
      if (v % checkpointInterval == 0) checkpointPayload(path, v, stamped)
      else deltaBody(prev, stamped) match {
        case Some(body) if body.size + 1 < fullCount => "#delta" +: body
        case _ => checkpointPayload(path, v, stamped)
      }
    TableFs.writeUtf8Exclusive(manifestFile(path, v),
      out.mkString("\n"))
  }

  /** Write commit data with OVERWRITE: the manifest is the commit
    * point, so an orphan `cNNNNN` directory left by a crash between
    * data write and manifest creation must not wedge the replayed
    * commit (r10 ADVICE: SaveMode.ErrorIfExists permanently blocked
    * every subsequent commit at that version).
    */
  private def writeCommitData(df: DataFrame, path: String,
                              commit: Int,
                              colMap: Seq[(String, String)] = Nil)
      : Seq[String] = {
    val sub = f"c$commit%05d"
    toPhysicalDf(df, colMap)
      .write.mode(SaveMode.Overwrite).parquet(s"$path/$sub")
    TableFs.listNames(s"$path/$sub")
      .filter(_.endsWith(".parquet"))
      .sorted
      .map(n => s"$sub/$n")
  }

  /** Commit-data write in the KEY-GROUPED layout ([[compactPartitioned]]):
    * rows land under `cNNNNN/__pv=<value>/` via the parquet writer's
    * partitionBy, so every file is single-valued in the partition
    * column. The column is DUPLICATED into `__pv` before the write —
    * partitionBy drops the dir key from file contents, and keeping the
    * original column in the data keeps every flat read path
    * (deletion vectors, CoW probes, schema derivation) untouched.
    * Returns (rel path, raw partition-dir value) pairs.
    */
  private def writeCommitDataPartitioned(
      df: DataFrame, path: String, commit: Int,
      partCol: String): Seq[(String, String)] = {
    val sub = f"c$commit%05d"
    // hash-repartition on the key first so each __pv dir is written by
    // exactly one task → one file per key (plus dir splitting for the
    // rare hash collision), not one per upstream partition
    df.repartition(col(partCol))
      .withColumn("__pv", col(partCol))
      .write.partitionBy("__pv")
      .mode(SaveMode.Overwrite).parquet(s"$path/$sub")
    TableFs.listNames(s"$path/$sub")
      .filter(_.startsWith("__pv="))
      .flatMap { d =>
        val raw = d.stripPrefix("__pv=")
        TableFs.listNames(s"$path/$sub/$d")
          .filter(_.endsWith(".parquet"))
          .map(n => s"$sub/$d/$n" -> raw)
      }
      .sortBy(_._1)
  }

  /** Commit-data write into a UNIQUE (non-version-numbered) directory —
    * for the copy-on-write REWRITE paths (delete/merge/CDC), which can
    * race other writers: with version-coupled dirs a losing racer's
    * `SaveMode.Overwrite` could clobber files the winner's manifest
    * already references BEFORE the loser even reaches its (failing)
    * manifest write. Unique dirs make data writes conflict-free; the
    * manifest create stays the only arbitration point. A crashed
    * attempt leaves an orphan dir that vacuum reclaims (unreferenced).
    */
  private def writeCommitDataUnique(df: DataFrame,
                                    path: String,
                                    colMap: Seq[(String, String)] = Nil)
      : Seq[String] = {
    val sub = newAppendDir()
    toPhysicalDf(df, colMap)
      .write.mode(SaveMode.ErrorIfExists).parquet(s"$path/$sub")
    TableFs.listNames(s"$path/$sub")
      .filter(_.endsWith(".parquet"))
      .sorted
      .map(n => s"$sub/$n")
  }

  /** Everything a commit records from a new file's parquet FOOTER, in
    * ONE footer open (r14 optimization, guide §6): row count (`rc`
    * lines → metadata-only COUNT), per-column null counts (`nc` lines
    * → metadata-only COUNT(col)), and, when a clustering column is
    * declared, its [min, max] zone stats (`zs` lines → band pruning).
    * The three dedicated helpers below used to each re-open the same
    * footer — 2-3 metadata reads per new file per commit; locally that
    * is just syscalls, on an object store it is 2-3 HEAD+GET round
    * trips per file. Metadata only, no data pages read.
    */
  private case class FooterMeta(
      counts: Map[String, Long],
      nulls: Map[String, Map[String, Long]],
      zones: Map[String, Map[String, (Double, Double)]])

  private def footerMeta(path: String, rels: Seq[String],
                         zoneCol: Option[String] = None): FooterMeta = {
    import org.apache.parquet.column.statistics._
    import scala.jdk.CollectionConverters._
    val conf = org.apache.spark.sql.SparkSession.active
      .sessionState.newHadoopConf()
    val counts = Map.newBuilder[String, Long]
    val nulls = Map.newBuilder[String, Map[String, Long]]
    val zones = Map.newBuilder[String, Map[String, (Double, Double)]]
    rels.foreach { rel =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(absPath(path, rel)), conf)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try {
        counts += rel -> r.getRecordCount
        val chunks = r.getFooter.getBlocks.asScala
          .flatMap(_.getColumns.asScala)
        // per-column NULL counts; every chunk must report, else the
        // column is uncovered (a reader must then fall back)
        nulls += rel -> chunks
          .map(c => c.getPath.toDotString ->
            Option(c.getStatistics).filter(_.isNumNullsSet)
              .map(_.getNumNulls))
          .groupBy(_._1).view
          .mapValues(vs => vs.map(_._2))
          .flatMap { case (c, ns) =>
            if (ns.forall(_.isDefined) && !c.contains("."))
              Some(c -> ns.map(_.get).sum)
            else None
          }.toMap
        // zone stats: files whose chunks lack stats or whose values are
        // all null are omitted — they simply stay unpruned, the
        // standing conservative contract. Doubles round exactly like
        // compactClustered's `cast(col as double)`, so every consumer
        // (band pruning, TOP-N capping, metadata MIN/MAX with its 2^53
        // guard) reads them identically.
        zoneCol.foreach { zc =>
          def bound(s: Statistics[_], min: Boolean): Option[Double] =
            s match {
              case l: LongStatistics =>
                Some(if (min) l.getMin.toDouble else l.getMax.toDouble)
              case i: IntStatistics =>
                Some(if (min) i.getMin.toDouble else i.getMax.toDouble)
              case d: DoubleStatistics =>
                Some(if (min) d.getMin else d.getMax)
              case f: FloatStatistics =>
                Some(if (min) f.getMin.toDouble else f.getMax.toDouble)
              case _ => None
            }
          val zChunks = chunks.filter(_.getPath.toDotString == zc)
          val perChunk = zChunks.map(c => Option(c.getStatistics)
            .filter(s => !s.isEmpty && s.hasNonNullValue)
            .flatMap(s => for {
              lo <- bound(s, min = true)
              hi <- bound(s, min = false)
            } yield (lo, hi)))
          if (perChunk.nonEmpty && perChunk.forall(_.isDefined)) {
            val bounds = perChunk.flatten
            zones += rel -> Map(zc ->
              (bounds.map(_._1).min, bounds.map(_._2).max))
          }
        }
      } finally r.close()
    }
    FooterMeta(counts.result(), nulls.result(), zones.result())
  }

  /** Per-file row counts from the parquet FOOTERS (see [[footerMeta]]).
    */
  private def footerCounts(path: String,
                           rels: Seq[String]): Map[String, Long] =
    footerMeta(path, rels).counts

  /** Per-file, per-column NULL counts (see [[footerMeta]]). */
  private def footerNullCounts(
      path: String, rels: Seq[String]): Map[String, Map[String, Long]] =
    footerMeta(path, rels).nulls

  /** Per-file [min, max] of `zoneCol` (see [[footerMeta]]). */
  private def footerZoneStats(path: String, rels: Seq[String],
                              zoneCol: String)
      : Map[String, Map[String, (Double, Double)]] =
    footerMeta(path, rels, Some(zoneCol)).zones

  // ---------------------------------------------------------------- //
  // read path (deletion-vector-aware)

  /** Executor-side extraction of a file's manifest-relative path from
    * its scan URI: the `cNNNNN[/key=value]/part-file` tail's only
    * URL-encodable characters sit in the optional partition segment
    * (written pre-escaped by the parquet writer), so suffix extraction
    * is encoding-agnostic even when the table PATH encodes.
    */
  private def relExpr: Column =
    regexp_extract(input_file_name(),
      "((?:[cd]\\d{5}|a[0-9a-f]{12})(?:/[^/]+=[^/]*)?/[^/]+)$", 1)

  /** Percent-decode a manifest-relative path recorded from
    * `input_file_name()` (URI-encoded) back to the LITERAL on-disk
    * name the manifests store. A Hive-escaped partition dir keeps its
    * literal `%XX` bytes on disk (e.g. `__pv=a%3Ab`), which the scan
    * URI re-encodes (`%` → `%25`) — so any comparison of a recorded
    * rel against manifest entries must decode ONE layer first (r12
    * ADVICE: loadDvMap silently dropped tombstones on escapable keys).
    * The literal-`+` pre-escape keeps URLDecoder from turning a plus
    * in a dir name into a space.
    */
  private[graft] def percentDecode(s: String): String =
    if (!s.contains('%')) s
    else java.net.URLDecoder.decode(
      s.replace("+", "%2B"), java.nio.charset.StandardCharsets.UTF_8)

  /** Manifest-relative `rels` read with their footer schema
    * ([[graft.io.Footers]]): the schema a `mergeSchema` read infers,
    * without its inference job.
    */
  private[graft] def readRels(spark: SparkSession, path: String,
                              rels: Seq[String]): DataFrame = {
    val files = rels.map(r => absPath(path, r))
    spark.read.schema(Footers.schema(spark, files)).parquet(files: _*)
  }

  private def readDv(spark: SparkSession, path: String,
                     dvs: Seq[String]): DataFrame =
    readRels(spark, path, dvs)
      .select(col("file").as("__rel"), col("pos").as("__pos"))

  /** Read `files` with `dvs` applied, KEEPING a `__file` tag column
    * (the scan's `input_file_name()`). The tag is captured AT THE SCAN
    * — `input_file_name()` is per-source, so evaluating it above the
    * deletion-vector join would be ambiguous (MULTI_SOURCES error) —
    * which is exactly what the copy-on-write probes need anyway. The
    * anti-join's right side is deleted-row-count-sized — AQE broadcasts
    * it when small; no hint is forced so a pathological vector can
    * still shuffle instead of OOM.
    */
  private def readFilesTagged(spark: SparkSession, path: String,
                              files: Seq[String],
                              dvs: Seq[String]): DataFrame = {
    val data = readRels(spark, path, files)
      .withColumn("__file", input_file_name())
    if (dvs.isEmpty) data
    else {
      val cols = data.columns.toSeq
      data
        .withColumn("__rel", relExpr)
        .withColumn("__pos", col("_metadata.row_index"))
        .join(readDv(spark, path, dvs), Seq("__rel", "__pos"), "left_anti")
        .select(cols.map(col): _*)
    }
  }

  /** Read `files` with `dvs` applied: rows named by a deletion vector
    * (by (file, row-position)) disappear.
    */
  private def readFiles(spark: SparkSession, path: String,
                        files: Seq[String], dvs: Seq[String]): DataFrame = {
    val data = readRels(spark, path, files)
    if (dvs.isEmpty) data
    else readFilesTagged(spark, path, files, dvs).drop("__file")
  }

  /** Snapshot read of any historical version, deletion vectors
    * applied. The read is SCHEMA-EVOLUTION-aware: its schema is the
    * merge of the listed files' footers in manifest order (the fold a
    * `mergeSchema` read runs, [[graft.io.Footers]]), so a version whose
    * manifest mixes pre-evolution and post-evolution files (an `append`
    * introduced a column) surfaces the union schema with legacy rows
    * null-filled, while older versions — whose manifests reference only
    * pre-evolution files — keep their original schema. The footers are
    * read on the driver, one after another, and building the frame
    * launches no Spark job; the cost is O(files in the manifest).
    */
  def readVersion(spark: SparkSession, path: String, v: Int): DataFrame = {
    val m = readManifest(path, v)
    val base = readFiles(spark, path, m.data, m.dvs)
    // ALTER-added columns not yet materialized in any file surface
    // null-filled (files written after the ALTER carry them for real,
    // at which point the footer merge already includes them)
    val withXc = m.extraCols.foldLeft(base) { case (df, (n, dt)) =>
      if (df.columns.contains(n)) df
      else df.withColumn(n, lit(null).cast(dt))
    }
    // column-mapped tables: project the physical scan to THIS
    // version's logical view (renames applied, dropped columns gone)
    if (m.colMap.isEmpty) withXc else logicalView(withXc, m)
  }

  /** Read the current version. */
  def read(spark: SparkSession, path: String): DataFrame =
    readVersion(spark, path, latestVersion(path))

  // ---------------------------------------------------------------- //
  // history + timestamp time travel + restore + shallow clone

  /** One line of [[history]]: a committed version's timestamp, file
    * footprint, and streaming batch id. `tsMillis` is None only for
    * pre-r11 manifests (written before commit timestamps existed).
    */
  final case class CommitInfo(version: Int, tsMillis: Option[Long],
                              dataFiles: Int, dvFiles: Int,
                              batch: Option[Long])

  /** The table's commit log, ascending by version — only versions whose
    * manifest still exists ([[vacuum]] removes pre-horizon ones). Cost:
    * one manifest read per retained version, no data touched.
    */
  def history(path: String): Seq[CommitInfo] =  {
    // ONE forward fold over the whole log: readManifest(v) per version
    // would re-fold each version's checkpoint+delta chain from scratch
    // (O(versions × interval) manifest parses — at 1000 retained
    // versions that is ~10x the log size in re-parses); carrying the
    // previous version's folded state makes the log listing O(log)
    val versions = TableFs.listNames(manifestDir(path))
      .filter(_.matches("v\\d{5}\\.txt"))
      .map(_.slice(1, 6).toInt)
      .sorted
    var prev: Option[(Int, Manifest)] = None
    versions.map { v =>
      val lines = rawManifest(path, v)
      checkRequires(manifestFile(path, v), lines)
      val m =
        if (!isDelta(lines)) parseCheckpoint(manifestFile(path, v), lines)
        else prev match {
          case Some((pv, pm)) if pv == v - 1 => foldDelta(pm, lines)
          case _ => readManifest(path, v) // non-contiguous: full fold
        }
      prev = Some((v, m))
      CommitInfo(v, m.ts, m.data.length, m.dvs.length, m.batch)
    }
  }

  /** The version current AS OF `tsMillis`: the greatest committed
    * version whose commit timestamp is <= the probe. Commit timestamps
    * are strictly monotonic per table (forced at write), so this is
    * unambiguous. Fails loudly when the probe predates the first
    * retained commit — never silently serves a later state.
    */
  def versionAsOfTimestamp(path: String, tsMillis: Long): Int = {
    val hits = history(path)
      .filter(_.tsMillis.exists(_ <= tsMillis))
    require(hits.nonEmpty,
      s"no committed version at or before timestamp $tsMillis at $path")
    hits.last.version
  }

  /** Timestamp time travel: read the snapshot current as of
    * `tsMillis` (deletion vectors applied, like [[readVersion]]).
    */
  def readAsOfTimestamp(spark: SparkSession, path: String,
                        tsMillis: Long): DataFrame =
    readVersion(spark, path, versionAsOfTimestamp(path, tsMillis))

  /** RESTORE: make historical version `v` current again AS A NEW
    * COMMIT — the manifest of `v` is re-committed verbatim at
    * latest+1, so the bad intermediate states stay in history (time
    * travel still reaches them, audits see what happened) and NOT ONE
    * data file is read or written. The undo verb for a bad delete or
    * merge on a 100 TB table costs one manifest write.
    */
  def restore(path: String, v: Int): Unit = {
    val latest = latestVersion(path)
    require(latest >= 0, s"no table at $path — call init first")
    val m = readManifest(path, v) // fails loudly if v was vacuumed
    commitManifest(path, latest + 1, readManifest(path, latest),
      m.copy(batch = None, ts = None, cdc = Nil, txn = None))
  }

  /** SHALLOW CLONE: create an independent table at `dst` whose version
    * 0 references `src`'s current data files BY ABSOLUTE PATH — zero
    * data copied, metadata-only cost (the Delta `CLONE` shape: fork a
    * 100 TB corpus for an experiment in milliseconds). From then on the
    * tables diverge freely: appends/compactions on either side land in
    * their own directories, and copy-on-write verbs on the clone
    * rewrite INTO THE CLONE, never touching `src` (the probe matching
    * and all read paths resolve absolute manifest entries). Clustering
    * stats, row counts, and deletion vectors carry over; per-table
    * bloom indexes do NOT (their sidecar contents name src-relative
    * files — rebuild on the clone). Caveat, exactly as in Delta:
    * vacuuming the SOURCE can reclaim files a clone still references —
    * retention is per-table, clones are not reference-counted.
    */
  def cloneTable(src: String, dst: String): Unit = {
    val v = latestVersion(src)
    require(v >= 0, s"no table at $src — call init first")
    require(latestVersion(dst) < 0, s"clone target $dst already exists")
    val m = readManifest(src, v)
    def abs(r: String) = absPath(src, r)
    writeManifest(dst, 0, Manifest(
      m.data.map(abs),
      m.dvs.map(abs),
      m.stats.map { case (rel, byCol) => abs(rel) -> byCol },
      None,
      Nil,
      m.rowCounts.map { case (rel, n) => abs(rel) -> n },
      None, m.partCol,
      m.partValues.map { case (rel, pv2) => abs(rel) -> pv2 },
      m.nullCounts.map { case (rel, mm) => abs(rel) -> mm },
      m.extraCols,
      colMap = m.colMap))
  }

  // ---------------------------------------------------------------- //
  // schema evolution: ALTER TABLE ADD COLUMN

  /** ADD COLUMN as a metadata-only commit: the manifest gains an `xc`
    * line and NOT ONE data file is touched — reads null-fill the
    * column for pre-evolution files (the same union-schema machinery
    * appends already use), writes after the ALTER materialize it, and
    * older snapshots keep their original schema (their manifests carry
    * no `xc` line). Constraints, stats, partition values all survive
    * (the manifest is copied). The added column is nullable by
    * construction.
    */
  def addColumn(spark: SparkSession, path: String, name: String,
                dataType: org.apache.spark.sql.types.DataType): Unit = {
    val v = latestVersion(path)
    require(v >= 0, s"no table at $path — call init first")
    val m = readManifest(path, v)
    val existing = readVersion(spark, path, v).columns.toSet
    require(!existing.contains(name) &&
      !m.extraCols.exists(_._1 == name),
      s"column '$name' already exists at $path")
    if (m.colMap.isEmpty)
      commitManifest(path, v + 1, m,
        m.copy(batch = None, ts = None, cdc = Nil, txn = None,
          extraCols = m.extraCols :+ (name -> dataType)))
    else {
      // COLUMN-MAPPED table: mint a FRESH physical name so a re-add
      // after DROP can never resurrect the dropped column's old data
      // from pre-drop files (the Delta column-mapping discipline)
      val phys = f"${name}__v${v + 1}%05d"
      require(!m.colMap.exists(_._2 == phys) &&
        !m.extraCols.exists(_._1 == phys),
        s"physical name collision for '$name' at $path")
      commitManifest(path, v + 1, m,
        m.copy(batch = None, ts = None, cdc = Nil, txn = None,
          extraCols = m.extraCols :+ (phys -> dataType),
          colMap = m.colMap :+ (name -> phys)))
    }
  }

  // ---------------------------------------------------------------- //
  // COLUMN MAPPING: ALTER TABLE RENAME/DROP COLUMN (r13 verdict #3)
  //
  // A manifest may carry an ORDERED logical→physical column map
  // (`cm` lines). Physical names are what the immutable data files
  // store; logical names are what users see. RENAME and DROP are then
  // METADATA-ONLY commits — a map rewrite, no data file touched — and
  // every historical snapshot keeps ITS OWN map (schema-correct time
  // travel across the rename). Stats/blooms/null counts/partition
  // values stay keyed by PHYSICAL name (they describe file contents);
  // the verbs translate at their boundaries. Tables without a map
  // behave exactly as before (logical == physical everywhere).

  /** Logical → physical name under `colMap` (identity when unmapped). */
  private[graft] def toPhysicalName(colMap: Seq[(String, String)],
                                    name: String): String =
    colMap.find(_._1 == name).map(_._2).getOrElse(name)

  /** Whether any logical name differs from its physical name. */
  private[graft] def mappingNontrivial(
      colMap: Seq[(String, String)]): Boolean =
    colMap.exists { case (l, p) => l != p }

  /** Project a PHYSICAL-named frame to `m`'s logical view: extraCols
    * not materialized in the scanned files null-fill first, then the
    * map renames/reorders (dropped physical columns disappear);
    * `extra` names internal tag columns (`__file`) that pass through.
    * IDENTITY when the table carries no map — the legacy read paths
    * are byte-for-byte unchanged.
    */
  private def logicalView(df: DataFrame, m: Manifest,
                          extra: Seq[String] = Nil): DataFrame =
    if (m.colMap.isEmpty) df
    else {
      val withXc = m.extraCols.foldLeft(df) { case (d, (n, dt)) =>
        if (d.columns.contains(n)) d
        else d.withColumn(n, lit(null).cast(dt))
      }
      val have = withXc.columns.toSet
      m.colMap.foreach { case (l, p) => require(have.contains(p),
        s"column mapping names physical column '$p' (logical '$l') " +
          s"absent from the scan: ${withXc.columns.mkString(", ")}") }
      withXc.select((m.colMap.map { case (l, p) => col(p).as(l) } ++
        extra.map(col)): _*)
    }

  /** Rename a LOGICAL-named frame to physical names for a file write.
    * Columns outside the map (internal tags like `__file`) pass
    * through.
    */
  private def toPhysicalDf(df: DataFrame,
                           colMap: Seq[(String, String)]): DataFrame =
    if (!mappingNontrivial(colMap)) df
    else df.select(df.columns.toSeq.map { c =>
      col(c).as(toPhysicalName(colMap, c))
    }: _*)

  /** The table's effective logical→physical map: the stored one, or an
    * IDENTITY map over the current logical schema when none is stored
    * yet (the first rename/drop materializes it).
    */
  private def effectiveColMap(spark: SparkSession, path: String,
                              m: Manifest): Seq[(String, String)] =
    if (m.colMap.nonEmpty) m.colMap
    else {
      val fromFiles = Footers.schema(spark,
        m.data.map(r => absPath(path, r))).fieldNames.toSeq
      (fromFiles ++ m.extraCols.map(_._1).filterNot(fromFiles.contains))
        .map(n => n -> n)
    }

  private def requireNoConstraintOn(path: String, name: String,
                                    verb: String): Unit = {
    val hit = constraints(path).find(_._2
      .matches(s".*\\b${java.util.regex.Pattern.quote(name)}\\b.*"))
    require(hit.isEmpty,
      s"$verb refused at $path: CHECK constraint '${hit.get._1}' " +
        s"(${hit.get._2}) references column '$name' — drop the " +
        "constraint first")
  }

  /** ALTER TABLE RENAME COLUMN as a metadata-only commit: the map entry
    * flips its logical name; the physical name — and every data file —
    * stays. Old snapshots keep the old name (their manifests carry the
    * old map).
    */
  def renameColumn(spark: SparkSession, path: String,
                   from: String, to: String): Unit = {
    val v = latestVersion(path)
    require(v >= 0, s"no table at $path — call init first")
    val m = readManifest(path, v)
    val cur = effectiveColMap(spark, path, m)
    require(cur.exists(_._1 == from), s"no column '$from' at $path")
    require(!cur.exists(_._1 == to),
      s"column '$to' already exists at $path")
    requireNoConstraintOn(path, from, "RENAME COLUMN")
    commitManifest(path, v + 1, m,
      m.copy(batch = None, ts = None, cdc = Nil, txn = None,
        colMap = cur.map { case (l, p) =>
          if (l == from) (to, p) else (l, p) }))
  }

  /** ALTER TABLE DROP COLUMN as a metadata-only commit: the map entry
    * vanishes; the physical column stays in the immutable files and
    * old snapshots still read it. The partition column cannot drop
    * (it is load-bearing for pruning and the key-grouped layout).
    */
  def dropColumn(spark: SparkSession, path: String,
                 name: String): Unit = {
    val v = latestVersion(path)
    require(v >= 0, s"no table at $path — call init first")
    val m = readManifest(path, v)
    val cur = effectiveColMap(spark, path, m)
    require(cur.exists(_._1 == name), s"no column '$name' at $path")
    require(cur.length > 1, s"cannot drop the only column at $path")
    val phys = toPhysicalName(cur, name)
    require(!m.partCol.contains(phys),
      s"DROP COLUMN refused at $path: '$name' is the partition column")
    requireNoConstraintOn(path, name, "DROP COLUMN")
    commitManifest(path, v + 1, m,
      m.copy(batch = None, ts = None, cdc = Nil, txn = None,
        colMap = cur.filterNot(_._1 == name)))
  }

  // ---------------------------------------------------------------- //
  // CHECK constraints (write-side data-quality gates)

  private def constraintsFile(path: String): String =
    s"${manifestDir(path)}/constraints.txt"

  /** The table's CHECK constraints as (name, SQL expression) pairs.
    * Constraints govern WRITES: every batch entering the table
    * ([[append]], [[merge]] updates, [[applyCdc]] upserts, streaming
    * variants) is validated BEFORE any data or manifest is written, so
    * a violating batch never becomes visible — not even partially.
    * SQL-standard semantics: a row violates only when the expression
    * is FALSE (NULL passes — use an explicit IS NOT NULL to reject
    * nulls). Stored beside the manifests, table-global (they gate
    * future writes; historical snapshots are unaffected).
    */
  def constraints(path: String): Seq[(String, String)] =
    if (!TableFs.exists(constraintsFile(path))) Nil
    else TableFs.readUtf8(constraintsFile(path)).split("\n").toSeq
      .filter(_.nonEmpty)
      .map { l =>
        val i = l.indexOf('\t')
        (l.substring(0, i), l.substring(i + 1))
      }

  private def writeConstraints(path: String,
                               cs: Seq[(String, String)]): Unit =
    TableFs.writeUtf8Overwrite(constraintsFile(path),
      cs.map { case (n, e) => s"$n\t$e" }.mkString("\n"))

  /** Fail loudly (before anything is written) when `df` carries a row
    * violating any of the table's constraints. One delta-sized
    * validation pass; the error names the constraint and a sample row.
    */
  private def validateConstraints(path: String, df: DataFrame): Unit = {
    val cs = constraints(path)
    cs.foreach { case (name, e) =>
      val bad = df.where(coalesce(expr(e), lit(true)) === false)
        .limit(1).collect()
      if (bad.nonEmpty)
        throw new IllegalArgumentException(
          s"CHECK constraint '$name' ($e) violated at $path — " +
            s"batch refused, nothing written; sample row: ${bad.head}")
    }
  }

  /** ADD CONSTRAINT: validates the CURRENT snapshot first (a
    * constraint the existing data already violates is refused — the
    * Delta discipline), then records it for every future write.
    */
  def addConstraint(spark: SparkSession, path: String, name: String,
                    expression: String): Unit = {
    require(name.nonEmpty && !name.contains("\t"),
      s"bad constraint name '$name'")
    val existing = constraints(path)
    require(!existing.exists(_._1 == name),
      s"constraint '$name' already exists at $path")
    val v = latestVersion(path)
    if (v >= 0) {
      val bad = readVersion(spark, path, v)
        .where(coalesce(expr(expression), lit(true)) === false)
        .limit(1).collect()
      require(bad.isEmpty,
        s"cannot add CHECK constraint '$name' ($expression): existing " +
          s"data violates it — sample row: ${bad.headOption.orNull}")
    }
    writeConstraints(path, existing :+ (name -> expression))
  }

  /** DROP CONSTRAINT (no-op if absent). */
  def dropConstraint(path: String, name: String): Unit =
    writeConstraints(path, constraints(path).filterNot(_._1 == name))

  // ---------------------------------------------------------------- //
  // write path

  /** Create the table at version 0 — or OVERWRITE an existing one
    * (INSERT OVERWRITE / mode("overwrite") route here). CHECK
    * constraints SURVIVE a data overwrite and gate the overwriting
    * batch (the Delta discipline: an overwrite replaces the data, not
    * the table's quality contract) — the batch is validated BEFORE the
    * old state is deleted, so a violating overwrite leaves the table
    * untouched.
    */
  def init(df: DataFrame, path: String,
           clusterBy: Option[String] = None): Unit = {
    val cs = constraints(path)
    cs.foreach { case (name, e) =>
      val bad = df.where(coalesce(expr(e), lit(true)) === false)
        .limit(1).collect()
      if (bad.nonEmpty)
        throw new IllegalArgumentException(
          s"CHECK constraint '$name' ($e) violated at $path — " +
            s"overwrite refused, table unchanged; sample row: ${bad.head}")
    }
    TableFs.deleteRecursive(path)
    val files = writeCommitData(df, path, 0)
    val fm = footerMeta(path, files, clusterBy)
    writeManifest(path, 0, Manifest(files, Nil,
      if (clusterBy.isDefined) fm.zones else Map.empty,
      None, Nil,
      fm.counts,
      nullCounts = fm.nulls))
    if (cs.nonEmpty) writeConstraints(path, cs)
  }

  private def appendInternal(df: DataFrame, path: String,
                             batch: Option[Long],
                             clusterBy: Option[String] = None): Unit = {
    val v = latestVersion(path)
    require(v >= 0, s"no table at $path — call init first")
    validateConstraints(path, df)
    val prev = readManifest(path, v)
    val newFiles = writeCommitData(df, path, v + 1, prev.colMap)
    val fm = footerMeta(path, newFiles,
      clusterBy.map(c => toPhysicalName(prev.colMap, c)))
    commitManifest(path, v + 1, prev, Manifest(
      prev.data ++ newFiles,
      prev.dvs,
      prev.stats ++ (if (clusterBy.isDefined) fm.zones else Map.empty),
      batch, prev.blooms,
      prev.rowCounts ++ fm.counts,
      None, prev.partCol, prev.partValues,
      prev.nullCounts ++ fm.nulls,
      prev.extraCols, colMap = prev.colMap))
  }

  /** Append-only commit: new files join the manifest; no existing file
    * is read or rewritten. Existing deletion vectors and clustering
    * stats carry over. With `clusterBy`, the NEW files' zone stats are
    * recorded straight from their parquet footers at commit (no extra
    * data scan) — a batch the writer range-distributed on that column
    * (the DSv2 path under RequiresDistributionAndOrdering) lands
    * band-prunable immediately, no OPTIMIZE needed. Without it the new
    * files simply have no stats and always read until the next
    * [[compactClustered]].
    */
  def append(df: DataFrame, path: String,
             clusterBy: Option[String] = None): Unit =
    appendInternal(df, path, None, clusterBy)

  // ---------------------------------------------------------------- //
  // optimistic concurrent appends (unique data dirs + commit rebase)

  /** A fresh append-data directory name: UNIQUE per write attempt (not
    * version-numbered like `cNNNNN`), so two concurrent appenders can
    * never clobber each other's data files — only the manifest
    * create-exclusive then arbitrates, and a pure append REBASES
    * cleanly on whoever won.
    */
  private[graft] def newAppendDir(): String =
    "a" + java.util.UUID.randomUUID().toString.replace("-", "")
      .substring(0, 12)

  /** Files a staged append directory holds, in manifest-relative form. */
  private[graft] def listStagedFiles(path: String, dir: String): Seq[String] =
    TableFs.listNames(s"$path/$dir")
      .filter(_.endsWith(".parquet"))
      .sorted
      .map(n => s"$dir/$n")

  /** Commit pre-staged append files with OPTIMISTIC RETRY (the Delta
    * discipline for the one always-rebasable conflict class): read the
    * latest manifest, attempt the create-exclusive write at latest+1;
    * if another writer took that version, re-read and try again — a
    * pure append conflicts with NOTHING (its files are disjoint by
    * unique-dir construction and it removes none), so rebasing on any
    * winner (append, OPTIMIZE, delete, merge) is always correct.
    * CHECK constraints are validated on the staged rows BEFORE the
    * first attempt. Returns the committed version. An empty table
    * commits version 0.
    */
  def commitStagedAppend(path: String, staged: Seq[String],
                         clusterBy: Option[String] = None,
                         batch: Option[Long] = None,
                         maxAttempts: Int = 20,
                         preValidated: Boolean = false,
                         txn: Option[String] = None): Int = {
    // staged files carry PHYSICAL names (the DSv2 write physicalizes);
    // constraints and the clusterBy option name LOGICAL columns
    val cm0 = {
      val v0 = latestVersion(path)
      if (v0 >= 0) readManifest(path, v0).colMap else Nil
    }
    // preValidated: the caller already ran validateConstraints on the
    // exact rows it staged (appendConcurrent does) — re-reading the
    // staged parquet to validate again would double the constraint
    // scan per commit (r12 ADVICE)
    if (!preValidated && constraints(path).nonEmpty && staged.nonEmpty) {
      val raw = readRels(org.apache.spark.sql.SparkSession.active,
        path, staged)
      validateConstraints(path,
        if (!mappingNontrivial(cm0)) raw
        else raw.select(cm0.collect {
          case (l, p) if raw.columns.contains(p) => col(p).as(l)
        }: _*))
    }
    val fm = footerMeta(path, staged,
      clusterBy.map(c => toPhysicalName(cm0, c)))
    val zone =
      if (clusterBy.isDefined) fm.zones
      else Map.empty[String, Map[String, (Double, Double)]]
    val rc = fm.counts
    val nc = fm.nulls
    var attempt = 0
    while (true) {
      val v = latestVersion(path)
      val prev =
        if (v >= 0) readManifest(path, v)
        else Manifest(Nil, Nil, Map.empty, None)
      try {
        commitManifest(path, v + 1, prev, Manifest(
          prev.data ++ staged, prev.dvs, prev.stats ++ zone, batch,
          prev.blooms, prev.rowCounts ++ rc, None, prev.partCol,
          prev.partValues, prev.nullCounts ++ nc, prev.extraCols,
          txn = txn, colMap = prev.colMap))
        return v + 1
      } catch {
        case e: java.io.IOException =>
          // collision iff the target manifest now exists — rebase and
          // retry; any other I/O failure surfaces
          attempt += 1
          if (!TableFs.exists(manifestFile(path, v + 1)) ||
            attempt >= maxAttempts)
            throw new IllegalStateException(
              s"append commit at $path failed after $attempt attempts", e)
      }
    }
    -1 // unreachable
  }

  /** Commit a pre-staged OVERWRITE as a NORMAL COMMIT at latest+1
    * whose snapshot is exactly the staged files — the Delta `INSERT
    * OVERWRITE` shape. History is PRESERVED: prior versions stay
    * time-travelable until [[vacuum]] reclaims them, and NOTHING is
    * deleted at commit time — which is what makes the verb
    * concurrency-safe (the pre-r13 form deleted every sibling of its
    * staging dir, including other writers' in-flight staged data and
    * the old manifests, so a racing appender could commit a manifest
    * referencing deleted files: a silently corrupted table — r12
    * ADVICE). Arbitration is the same optimistic create-exclusive
    * retry as [[commitStagedAppend]]: an overwrite's file list doesn't
    * depend on the previous state, so rebasing on any winner is always
    * correct. CHECK constraints live in their sidecar and simply
    * survive; they were already validated against the staged rows.
    * Returns the committed version (0 on a fresh table).
    */
  def commitStagedOverwrite(path: String, staged: Seq[String],
                            clusterBy: Option[String] = None,
                            maxAttempts: Int = 20,
                            txn: Option[String] = None): Int = {
    val cm0 = {
      val v0 = latestVersion(path)
      if (v0 >= 0) readManifest(path, v0).colMap else Nil
    }
    if (constraints(path).nonEmpty && staged.nonEmpty) {
      val raw = readRels(org.apache.spark.sql.SparkSession.active,
        path, staged)
      validateConstraints(path,
        if (!mappingNontrivial(cm0)) raw
        else raw.select(cm0.collect {
          case (l, p) if raw.columns.contains(p) => col(p).as(l)
        }: _*))
    }
    val fmO = footerMeta(path, staged,
      clusterBy.map(c => toPhysicalName(cm0, c)))
    val next = Manifest(staged, Nil,
      if (clusterBy.isDefined) fmO.zones else Map.empty,
      None, Nil, fmO.counts,
      nullCounts = fmO.nulls,
      txn = txn)
    var attempt = 0
    while (true) {
      val v = latestVersion(path)
      val prev =
        if (v >= 0) readManifest(path, v)
        else Manifest(Nil, Nil, Map.empty, None)
      try {
        // the overwrite's files were physicalized under the CURRENT
        // mapping — carry it so the logical view survives the replace
        commitManifest(path, v + 1, prev, next.copy(colMap = prev.colMap))
        return v + 1
      } catch {
        case e: java.io.IOException =>
          attempt += 1
          if (!TableFs.exists(manifestFile(path, v + 1)) ||
            attempt >= maxAttempts)
            throw new IllegalStateException(
              s"overwrite commit at $path failed after $attempt attempts",
              e)
      }
    }
    -1 // unreachable
  }

  /** Concurrency-safe append: data lands in a unique directory, then
    * [[commitStagedAppend]] serializes racing appenders into
    * consecutive versions — BOTH succeed, both rows visible (plain
    * [[append]] keeps the simpler version-numbered layout and the
    * single-maintenance-writer assumption). With `clusterBy` the batch
    * is range-clustered before writing and its zone stats recorded.
    */
  def appendConcurrent(df: DataFrame, path: String,
                       clusterBy: Option[String] = None): Int = {
    require(latestVersion(path) >= 0,
      s"no table at $path — call init first")
    validateConstraints(path, df)
    val dir = newAppendDir()
    val out = clusterBy match {
      case Some(c) =>
        df.repartitionByRange(col(c)).sortWithinPartitions(c)
      case None => df
    }
    toPhysicalDf(out,
      readManifest(path, latestVersion(path)).colMap)
      .write.mode(SaveMode.ErrorIfExists).parquet(s"$path/$dir")
    commitStagedAppend(path, listStagedFiles(path, dir), clusterBy,
      preValidated = true)
  }

  /** Exactly-once streaming append (`foreachBatch` discipline): a
    * RE-DELIVERED batch id is a no-op, returning false. The batch id
    * rides IN the manifest, so "files visible" and "batch recorded"
    * are one atomic create-exclusive — a crash before it leaves the
    * old snapshot current and the batch unrecorded (replay overwrites
    * the orphan commit directory and re-commits), a crash after leaves
    * both done (replay no-ops). Single-writer per table assumed for
    * streaming maintenance, as with [[MaterializedView]]; a racing
    * second writer fails loudly at the manifest create.
    */
  def appendIdempotent(df: DataFrame, path: String,
                       batchId: Long): Boolean = {
    if (appliedBatches(path).contains(batchId)) false
    else { appendInternal(df, path, Some(batchId)); true }
  }

  /** Streaming batch ids already committed into this table. Bounded by
    * the version count (one manifest read per version).
    */
  def appliedBatches(path: String): Set[Long] =
    TableFs.listNames(manifestDir(path))
      .filter(_.matches("v\\d{5}\\.txt"))
      // the batch tag is a PER-VERSION line present in the raw file
      // (checkpoint or delta) — scan the raw text instead of folding
      // each version's delta chain
      .flatMap(n => TableFs.readUtf8(s"${manifestDir(path)}/$n")
        .linesIterator.find(_.startsWith("#batch="))
        .map(_.stripPrefix("#batch=").trim.toLong))
      .toSet

  /** Sink-transaction identities already committed into this table —
    * the DSv2 streaming sink's idempotence keys, `queryId:epochId`
    * (the Delta txn discipline): keying on the epoch id ALONE would
    * make a SECOND streaming query (or a restart with a fresh
    * checkpoint, whose epochs restart at 0) silently drop its data as
    * "already applied" (r13 ADVICE). Same raw-text scan as
    * [[appliedBatches]].
    */
  def appliedTxns(path: String): Set[String] =
    TableFs.listNames(manifestDir(path))
      .filter(_.matches("v\\d{5}\\.txt"))
      .flatMap(n => TableFs.readUtf8(s"${manifestDir(path)}/$n")
        .linesIterator.find(_.startsWith("#txn="))
        .map(_.stripPrefix("#txn=").trim))
      .toSet

  // ---------------------------------------------------------------- //
  // probes shared by the copy-on-write paths

  /** Map distributed probe results (`input_file_name()` URIs) back to
    * manifest entries. The URIs are PERCENT-ENCODED — a table path
    * containing a space/%/non-ASCII character encodes, so raw
    * `endsWith` matching silently missed every probe hit (r10 ADVICE:
    * deleteWhere committed with the delete NOT applied). Decode via
    * `URI.getPath`, match on the `/rel` suffix, and require every
    * probed file to map to EXACTLY one manifest entry — fail loudly on
    * any unmatched probe result rather than corrupt.
    */
  private def probedToManifest(path: String, cur: Seq[String],
                               probedUris: Seq[String]): Seq[String] =
    probedUris.map { u =>
      val decoded = new java.net.URI(u).getPath
      // absolute entries (shallow clones) match on the full decoded
      // path; relative entries on the `/rel` suffix. Part-file names
      // carry write-task UUIDs, so a suffix hit is unique per table.
      val hits = cur.filter(rel =>
        if (isAbsRef(rel)) decoded == rel || decoded.endsWith(rel)
        else decoded.endsWith("/" + rel))
      require(hits.length == 1,
        s"probe result $decoded matched ${hits.length} manifest entries " +
          s"at $path (expected exactly 1)")
      hits.head
    }.distinct.sorted

  private val probeCap = 1000000

  // ---------------------------------------------------------------- //
  // CHANGE DATA FEED sidecars for copy-on-write commits

  private def cdfMarker(path: String): String =
    s"${manifestDir(path)}/cdf_enabled"

  /** Opt a table into WRITE-TIME CDC files (the Delta
    * `enableChangeDataFeed` shape): from now on every copy-on-write
    * verb ([[deleteWhere]], [[merge]], [[applyCdc]]) ALSO writes the
    * commit's exact row-level diff — the q498 multiset-diff semantics
    * (survivors cancel: only truly removed/added rows appear) — as a
    * `_change`-tagged parquet sidecar referenced by a per-version
    * `#cdc=` manifest tag. The STREAMING change feed then serves CoW
    * commits as leaf scans of these files instead of refusing; batch
    * `tableChanges` is unaffected (its algebra never needed them).
    * Cost: one pred-sized distributed write per CoW commit — exactly
    * Delta's documented CDF tax. Append and DV commits never need
    * sidecars (their diffs are already scan-only).
    */
  def enableChangeDataFeed(path: String): Unit =
    TableFs.writeUtf8Overwrite(cdfMarker(path), "enabled")

  def disableChangeDataFeed(path: String): Unit =
    TableFs.deleteFile(cdfMarker(path))

  def changeDataFeedEnabled(path: String): Boolean =
    TableFs.exists(cdfMarker(path))

  /** The `_change`-tagged diff rows of version `v`'s CoW commit, read
    * from its CDC sidecars (empty when the commit wrote none).
    */
  def readCdc(spark: SparkSession, path: String, v: Int): DataFrame = {
    val cdc = commitActions(path, v).cdcFiles
    require(cdc.nonEmpty, s"version $v at $path carries no CDC sidecar")
    readRels(spark, path, cdc)
  }

  private def writeCdcData(df: DataFrame, path: String): Seq[String] = {
    val sub = newAppendDir()
    df.write.mode(SaveMode.ErrorIfExists).parquet(s"$path/$sub")
    listStagedFiles(path, sub)
  }

  /** NET multiset diff from `removed` to `added`, each row tagged in
    * `tagCol` as 'removed' or 'added': rows identical on both sides
    * (no-op updates, survivors of a group rewrite) cancel by
    * multiplicity. The CDC sidecars of [[merge]], [[applyCdc]] and
    * [[commitReplace]] and batch [[diffVersions]] all come from here, so
    * a write-time sidecar records the SAME change set batch
    * `tableChanges` derives — the stream==batch CDF invariant.
    *
    * One aggregate, the multiset-with-counts form (V-SMART-Join, VLDB
    * 2012): removed rows count +1 and added rows -1, grouped by every
    * column; a group whose sum n is not 0 comes out |n| times, 'removed'
    * when n > 0 and 'added' when n < 0. That is `removed.exceptAll(added)`
    * plus `added.exceptAll(removed)` — Spark rewrites each exceptAll
    * into the same +1/-1 aggregate, grouping keys normalized (NaN = NaN,
    * -0.0 = 0.0) — in one scan of each side instead of two. Output
    * columns follow `removed`. When the two sides carry DIFFERENT
    * column sets (schema evolution through MERGE) no row can be
    * identical, so both pass through tagged.
    */
  private def netDiff(removed: DataFrame, added: DataFrame,
                      tagCol: String = "_change"): DataFrame = {
    val cols = removed.columns.toSeq
    if (!cols.sorted.sameElements(added.columns.sorted))
      removed.withColumn(tagCol, lit("removed"))
        .unionByName(added.withColumn(tagCol, lit("added")),
          allowMissingColumns = true)
    else
      removed.withColumn("__net", lit(1L))
        .unionAll(added.select(cols.map(col): _*)
          .withColumn("__net", lit(-1L)))
        .groupBy(cols.map(col): _*).agg(sum("__net").as("__net"))
        .where(col("__net") =!= 0)
        .select(cols.map(col) :+ explode(array_repeat(
          when(col("__net") > 0, lit("removed")).otherwise(lit("added")),
          abs(col("__net")).cast("int"))).as(tagCol): _*)
  }

  // ---------------------------------------------------------------- //
  // deletes

  /** Copy-on-write delete: files with no matching row carry over BY
    * REFERENCE; only files containing matches are rewritten (minus the
    * matching rows, and minus any deletion-vector rows — the rewrite
    * folds those files' vectors in) into the new commit. Historical
    * versions still see the original files — they are never deleted,
    * only de-referenced.
    */
  def deleteWhere(spark: SparkSession, path: String, pred: Column): Unit = {
    val v = latestVersion(path)
    require(v >= 0, s"no table at $path — call init first")
    val m = readManifest(path, v)
    // distributed affected-file probe: one column-pruned pass over the
    // current snapshot's LIVE rows; result is file-count-bounded.
    // Predicates name LOGICAL columns — the probe frame serves the
    // logical view (identity on unmapped tables)
    val affectedUris = logicalView(
      readFilesTagged(spark, path, m.data, m.dvs), m, Seq("__file"))
      .where(pred)
      .select("__file").distinct()
      .limit(probeCap + 1).collect().map(_.getString(0)).toSeq
    require(affectedUris.length <= probeCap,
      s"affected-file set at $path exceeds $probeCap files")
    val affected = probedToManifest(path, m.data, affectedUris)
    val carried = m.data.filterNot(affected.contains)
    val rewritten =
      if (affected.isEmpty) Seq.empty[String]
      else writeCommitDataUnique(
        // keep every live row where pred is not TRUE — `!pred` alone
        // would also drop pred-NULL rows, which the probe never selected
        logicalView(readFiles(spark, path, affected, m.dvs), m)
          .where(coalesce(pred, lit(false)) === false),
        path, m.colMap)
    // CDF sidecar: the commit's exact diff is the deleted rows
    val cdcFiles =
      if (!changeDataFeedEnabled(path) || affected.isEmpty) Nil
      else writeCdcData(
        logicalView(readFiles(spark, path, affected, m.dvs), m)
          .where(coalesce(pred, lit(false)) === true)
          .withColumn("_change", lit("removed")), path)
    // DV refs carry over: entries naming rewritten files dangle
    // harmlessly (the new file names never match); entries naming
    // carried files still apply. Stats for rewritten files drop.
    val fmRw = footerMeta(path, rewritten)
    commitManifest(path, v + 1, m, Manifest(
      carried ++ rewritten, m.dvs,
      m.stats.view.filterKeys(carried.contains).toMap, None, m.blooms,
      m.rowCounts.view.filterKeys(carried.contains).toMap ++
        fmRw.counts,
      None, m.partCol,
      m.partValues.view.filterKeys(carried.contains).toMap,
      m.nullCounts.view.filterKeys(carried.contains).toMap ++
        fmRw.nulls,
      m.extraCols, cdcFiles, colMap = m.colMap))
  }

  /** MERGE-ON-READ delete via deletion vectors: writes NO data file at
    * all — only a tombstone sidecar of (file, row-position) pairs plus
    * the manifest. At 100 TB this is the GDPR point-delete answer:
    * copy-on-write rewrites GBs of file per deleted row, a deletion
    * vector writes bytes. Reads anti-join the vectors (AQE-broadcast
    * while small); [[compact]]/[[compactClustered]] folds them into
    * real files when enough accumulate.
    */
  def deleteWhereDV(spark: SparkSession, path: String,
                    pred: Column): Unit = {
    val v = latestVersion(path)
    require(v >= 0, s"no table at $path — call init first")
    val m = readManifest(path, v)
    val sub = f"d${v + 1}%05d"
    // live rows matching pred → (rel, pos) tombstones; rows already
    // dead under an existing vector are excluded (readFiles applies it)
    val data = readRels(spark, path, m.data)
      .withColumn("__rel", relExpr)
      .withColumn("__pos", col("_metadata.row_index"))
    val live =
      if (m.dvs.isEmpty) data
      else data.join(readDv(spark, path, m.dvs),
        Seq("__rel", "__pos"), "left_anti")
    logicalView(live, m, Seq("__rel", "__pos")).where(pred)
      .select(col("__rel").as("file"), col("__pos").as("pos"))
      .write.mode(SaveMode.Overwrite).parquet(s"$path/$sub")
    val dvFiles = TableFs.listNames(s"$path/$sub")
      .filter(_.endsWith(".parquet")).sorted.map(n => s"$sub/$n")
    // carry the FULL metadata (nc/pv included): every metadata-only
    // consumer (COUNT shortcuts, TOP-N capping, SPJ) already guards on
    // dvs.isEmpty, and preserving it keeps the commit a tiny delta —
    // the pre-r13 drop turned a bytes-sized DV commit into an O(table)
    // manifest rewrite
    commitManifest(path, v + 1, m,
      m.copy(dvs = m.dvs ++ dvFiles, batch = None, ts = None, cdc = Nil, txn = None))
  }

  /** Commit a GROUP-BASED copy-on-write rewrite prepared by an external
    * writer (the DataSource V2 row-level path: SQL UPDATE / MERGE /
    * non-translatable DELETE): the files `replaced` — exactly the
    * groups the row-level scan read — are swapped for the pre-written
    * `staged` files (relative paths under this table, already on
    * disk), everything else carries over by reference. `baseVersion`
    * is the snapshot the scan pinned: if the table moved past it the
    * commit ABORTS loudly (write-write conflict) and the staged files
    * are left orphaned for vacuum — never silently lost-update.
    * Per-file footer row/null counts are recorded for the staged
    * files; clustering stats and partition values survive only on
    * carried files (the rewrite changed the others).
    */
  def commitReplace(path: String, baseVersion: Int, replaced: Seq[String],
                    staged: Seq[String]): Unit = {
    val v = latestVersion(path)
    require(v == baseVersion,
      s"concurrent write detected at $path: row-level operation read " +
        s"version $baseVersion but the table is now at v$v — aborting " +
        "the commit (re-run the statement)")
    val m = readManifest(path, v)
    // deletion vectors carry over: the scan read the replaced files
    // UNDER their tombstones (GraftDvAwareScan), so entries naming
    // replaced files dangle harmlessly and entries naming carried
    // files still apply — the deleteWhere discipline
    val replacedSet = replaced.toSet
    val unknown = replacedSet -- m.data.toSet
    require(unknown.isEmpty,
      s"row-level rewrite at $path names files not in v$v: $unknown")
    val carried = m.data.filterNot(replacedSet.contains)
    // CDF sidecar for the SQL group-CoW path: the exact multiset diff
    // of replaced-group rows vs their replacements ([[netDiff]] —
    // survivors cancel), computed ONCE at write time so the
    // streaming feed serves this commit as a leaf scan. Only when the
    // table opted in (the Delta CDF tax).
    val cdcFiles =
      if (!changeDataFeedEnabled(path) ||
        (replaced.isEmpty && staged.isEmpty)) Nil
      else {
        val spark = org.apache.spark.sql.SparkSession.active
        val oldRows =
          if (replaced.isEmpty) None
          else Some(readFiles(spark, path, replaced, m.dvs))
        val newRows =
          if (staged.isEmpty) None
          else Some(readRels(spark, path, staged))
        val diff = (oldRows, newRows) match {
          case (Some(o), Some(n)) =>
            require(o.columns.toSet == n.columns.toSet,
              s"CDC diff at $path: replaced/staged schemas diverge")
            netDiff(o.select(n.columns.map(col): _*), n)
          case (Some(o), None) => o.withColumn("_change", lit("removed"))
          case (None, Some(n)) => n.withColumn("_change", lit("added"))
          case _ => null
        }
        if (diff == null) Nil else writeCdcData(diff, path)
      }
    val fmSt = footerMeta(path, staged)
    commitManifest(path, v + 1, m, Manifest(
      carried ++ staged, m.dvs,
      m.stats.view.filterKeys(carried.contains).toMap, None, m.blooms,
      m.rowCounts.view.filterKeys(carried.contains).toMap ++
        fmSt.counts,
      None, m.partCol,
      m.partValues.view.filterKeys(carried.contains).toMap,
      m.nullCounts.view.filterKeys(carried.contains).toMap ++
        fmSt.nulls,
      m.extraCols, cdcFiles, colMap = m.colMap))
  }

  /** Commit a MERGE-ON-READ row-level operation prepared by the DSv2
    * delta write (SQL UPDATE / MERGE / non-translatable DELETE under
    * `spark.graft.rowLevel.mode=merge-on-read`): every existing data
    * file carries over UNTOUCHED (clustering stats, row counts,
    * partition values all stay valid), the staged deletion-vector
    * sidecars join `dvs`, the staged replacement/insert rows join
    * `data`. `baseVersion` is the snapshot the delta scan pinned — a
    * table that moved aborts loudly, staged files orphan for vacuum.
    */
  def commitDelta(path: String, baseVersion: Int, stagedData: Seq[String],
                  stagedDvs: Seq[String]): Unit = {
    val v = latestVersion(path)
    require(v == baseVersion,
      s"concurrent write detected at $path: delta row-level operation " +
        s"read version $baseVersion but the table is now at v$v — " +
        "aborting the commit (re-run the statement)")
    val m = readManifest(path, v)
    val fmSd = footerMeta(path, stagedData)
    commitManifest(path, v + 1, m, Manifest(
      m.data ++ stagedData, m.dvs ++ stagedDvs, m.stats, None, m.blooms,
      m.rowCounts ++ fmSd.counts,
      None, m.partCol, m.partValues,
      m.nullCounts ++ fmSd.nulls,
      m.extraCols, colMap = m.colMap))
  }

  /** Footer row count of a single staged file (metadata-only read). */
  def fileRowCount(path: String, rel: String): Long =
    footerCounts(path, Seq(rel))(rel)

  /** Validate `df` against the table's CHECK constraints (fails loudly
    * on the first violating row). Exposed for external write paths
    * (the DSv2 row-level operations) that commit through
    * [[commitReplace]] instead of the library verbs. `df` may carry
    * PHYSICAL names (a staged-file read on a column-mapped table) —
    * constraints name logical columns, so the current mapping projects
    * first (identity on unmapped tables).
    */
  def validateAgainstConstraints(path: String, df: DataFrame): Unit = {
    val cm = {
      val v = latestVersion(path)
      if (v >= 0) readManifest(path, v).colMap else Nil
    }
    validateConstraints(path,
      if (!mappingNontrivial(cm)) df
      else df.select(cm.collect {
        case (l, p) if df.columns.contains(p) => col(p).as(l)
      }: _*))
  }

  // ---------------------------------------------------------------- //
  // MERGE (upsert)

  /** Delta-style MERGE (upsert by key): every current row whose key
    * appears in `updates` is replaced by the update rows for that key;
    * update rows with unseen keys append. Copy-on-write at FILE
    * granularity, like [[deleteWhere]]: the affected-file probe
    * left-semi-joins the current snapshot against the (broadcast)
    * update keys, so only files CONTAINING a matched key are
    * rewritten — a 100 TB table absorbing a point-update batch rewrites
    * the touched files, not the table, and every prior snapshot stays
    * pinned. `input_file_name` is captured at the scan projection
    * (before any join/exchange can detach rows from their source file).
    */
  def merge(spark: SparkSession, path: String, updates: DataFrame,
            keyCols: Seq[String]): Unit = {
    require(keyCols.nonEmpty, "merge needs at least one key column")
    val v = latestVersion(path)
    require(v >= 0, s"no table at $path — call init first")
    validateConstraints(path, updates)
    val m = readManifest(path, v)
    // raw keys: they feed only semi/anti joins, where duplicates change
    // nothing — a distinct() would add a shuffle job to each plan
    val keys = broadcast(updates.select(keyCols.map(col): _*))
    val scan = logicalView(
      readFilesTagged(spark, path, m.data, m.dvs), m, Seq("__file"))
    val affectedUris = scan.join(keys, keyCols, "left_semi")
      .select("__file").distinct()
      .limit(probeCap + 1).collect().map(_.getString(0)).toSeq
    require(affectedUris.length <= probeCap,
      s"affected-file set at $path exceeds $probeCap files")
    val affected = probedToManifest(path, m.data, affectedUris)
    val carried = m.data.filterNot(affected.contains)
    val survivors =
      if (affected.isEmpty) updates.limit(0)
      else logicalView(readFiles(spark, path, affected, m.dvs), m)
        .join(keys, keyCols, "left_anti")
    // CDF sidecar: matched keys' OLD rows 'removed', update rows
    // 'added' — as the NET multiset diff, so a no-op update (identical
    // pre/post row) contributes nothing, matching batch tableChanges
    val cdcFiles =
      if (!changeDataFeedEnabled(path)) Nil
      else {
        val removed =
          if (affected.isEmpty) updates.limit(0)
          else logicalView(readFiles(spark, path, affected, m.dvs), m)
            .join(keys, keyCols, "left_semi")
        writeCdcData(netDiff(removed, updates), path)
      }
    // allowMissingColumns: an update batch may CARRY a new column
    // (schema evolution through MERGE) or lack a recently-added one —
    // either side null-fills
    val rewritten = writeCommitDataUnique(
      survivors.unionByName(updates, allowMissingColumns = true),
      path, m.colMap)
    val fmRw = footerMeta(path, rewritten)
    commitManifest(path, v + 1, m, Manifest(
      carried ++ rewritten, m.dvs,
      m.stats.view.filterKeys(carried.contains).toMap, None, m.blooms,
      m.rowCounts.view.filterKeys(carried.contains).toMap ++
        fmRw.counts,
      None, m.partCol,
      m.partValues.view.filterKeys(carried.contains).toMap,
      m.nullCounts.view.filterKeys(carried.contains).toMap ++
        fmRw.nulls,
      m.extraCols, cdcFiles, colMap = m.colMap))
  }

  /** Apply a CDC batch ATOMICALLY — upserts and deletes in ONE
    * manifest commit (one snapshot per CDC batch; chaining
    * `deleteWhere` + `merge` would mint two versions and expose the
    * half-applied middle state to time travel). Rows tagged
    * `opCol = +1` upsert by key, rows tagged `-1` delete their key; a
    * key carrying both in one batch resolves to the +1 payload
    * (replace); a delete for an unseen key is a no-op. Copy-on-write
    * at file granularity exactly like [[merge]]: only files CONTAINING
    * a batch key are rewritten.
    */
  def applyCdc(spark: SparkSession, path: String, batch: DataFrame,
               keyCols: Seq[String], opCol: String): Unit =
    applyCdcInternal(spark, path, batch, keyCols, opCol, None)

  /** Exactly-once streaming variant of [[applyCdc]] (`foreachBatch`):
    * the batch id rides in the manifest (the [[appendIdempotent]]
    * discipline) — a redelivered committed batch id is a no-op,
    * returning false. Together with a keyed CDC source this is the
    * full streaming-upsert-into-a-table pipeline: every micro-batch
    * becomes one immutable, replay-safe snapshot.
    */
  def applyCdcIdempotent(spark: SparkSession, path: String,
                         batch: DataFrame, keyCols: Seq[String],
                         opCol: String, batchId: Long): Boolean = {
    if (appliedBatches(path).contains(batchId)) false
    else {
      applyCdcInternal(spark, path, batch, keyCols, opCol, Some(batchId))
      true
    }
  }

  private def applyCdcInternal(spark: SparkSession, path: String,
                               batch: DataFrame, keyCols: Seq[String],
                               opCol: String,
                               batchId: Option[Long]): Unit = {
    require(keyCols.nonEmpty, "applyCdc needs at least one key column")
    val v = latestVersion(path)
    require(v >= 0, s"no table at $path — call init first")
    validateConstraints(path, batch.where(col(opCol) === 1).drop(opCol))
    val m = readManifest(path, v)
    val keys = broadcast(batch.select(keyCols.map(col): _*))
    val scan = logicalView(
      readFilesTagged(spark, path, m.data, m.dvs), m, Seq("__file"))
    val affectedUris = scan.join(keys, keyCols, "left_semi")
      .select("__file").distinct()
      .limit(probeCap + 1).collect().map(_.getString(0)).toSeq
    require(affectedUris.length <= probeCap,
      s"affected-file set at $path exceeds $probeCap files")
    val affected = probedToManifest(path, m.data, affectedUris)
    val carried = m.data.filterNot(affected.contains)
    val survivors =
      if (affected.isEmpty) batch.drop(opCol).limit(0)
      else logicalView(readFiles(spark, path, affected, m.dvs), m)
        .join(keys, keyCols, "left_anti")
    val upserts = batch.where(col(opCol) === 1).drop(opCol)
    // CDF sidecar: every batch key's OLD row 'removed' (whether the
    // key upserts or deletes), upsert payloads 'added' — as the NET
    // multiset diff so no-op upserts cancel, matching batch CDF
    val cdcFiles =
      if (!changeDataFeedEnabled(path)) Nil
      else {
        val removed =
          if (affected.isEmpty) upserts.limit(0)
          else logicalView(readFiles(spark, path, affected, m.dvs), m)
            .join(keys, keyCols, "left_semi")
        writeCdcData(netDiff(removed, upserts), path)
      }
    val rewritten = writeCommitDataUnique(
      survivors.unionByName(upserts, allowMissingColumns = true),
      path, m.colMap)
    val fmUp = footerMeta(path, rewritten)
    commitManifest(path, v + 1, m, Manifest(
      carried ++ rewritten, m.dvs,
      m.stats.view.filterKeys(carried.contains).toMap, batchId,
      m.blooms,
      m.rowCounts.view.filterKeys(carried.contains).toMap ++
        fmUp.counts,
      None, m.partCol,
      m.partValues.view.filterKeys(carried.contains).toMap,
      m.nullCounts.view.filterKeys(carried.contains).toMap ++
        fmUp.nulls,
      m.extraCols, cdcFiles, colMap = m.colMap))
  }

  // ---------------------------------------------------------------- //
  // OPTIMIZE

  /** OPTIMIZE-style compaction: rewrite the CURRENT snapshot into
    * `targetFiles` files as a new version — the small-files remedy
    * under version history (appends fragment the manifest one commit's
    * files at a time; compaction folds them without losing a single
    * historical snapshot, because old files are only de-referenced,
    * never deleted). Deletion vectors fold in (the rewrite reads live
    * rows only, and the new manifest carries no vector). Round-robin
    * repartition: even file sizes, no ordering assumption — use
    * [[compactClustered]] to keep/establish a clustered layout.
    */
  def compact(spark: SparkSession, path: String, targetFiles: Int): Unit = {
    require(targetFiles > 0, s"targetFiles must be positive, got $targetFiles")
    val v = latestVersion(path)
    require(v >= 0, s"no table at $path — call init first")
    val files = writeCommitData(
      readVersion(spark, path, v).repartition(targetFiles), path, v + 1)
    val fm = footerMeta(path, files)
    writeManifest(path, v + 1, Manifest(files, Nil, Map.empty, None, Nil,
      fm.counts,
      nullCounts = fm.nulls))
  }

  /** CLUSTERING-PRESERVING OPTIMIZE: compaction that range-clusters on
    * `zoneCol` (repartitionByRange + within-file sort, so each output
    * file owns a narrow value band) and persists per-file [min, max]
    * stats INTO THE VERSION MANIFEST — composing the zone-map
    * file-skipping layout with version history, which the r10 layout
    * could not (plain [[compact]] round-robins, destroying any
    * clustered order). [[readVersionBand]] then consults the stats and
    * opens only intersecting files; later appends carry no stats and
    * are always read (correct, just unpruned) until the next
    * clustered compaction re-covers them. Deletion vectors fold in.
    *
    * The stats pass re-reads ONLY the zone column of the just-written
    * commit (column-pruned, file-count-bounded collect) because Spark
    * surfaces no per-file footer-stats API at write time. Files whose
    * zone column is entirely NULL get NO stats line — they are read
    * unconditionally rather than poisoning the manifest with null
    * bounds (the r10 zoneMapFiles NPE).
    */
  def compactClustered(spark: SparkSession, path: String,
                       targetFiles: Int, zoneCol: String): Unit = {
    require(targetFiles > 0, s"targetFiles must be positive, got $targetFiles")
    val v = latestVersion(path)
    require(v >= 0, s"no table at $path — call init first")
    val files = writeCommitData(
      readVersion(spark, path, v)
        .repartitionByRange(targetFiles, col(zoneCol))
        .sortWithinPartitions(zoneCol),
      path, v + 1)
    val statRows = readRels(spark, path, files)
      .select(relExpr.as("rel"), col(zoneCol).cast("double").as("z"))
      .groupBy("rel")
      .agg(min("z").as("zmin"), max("z").as("zmax"))
      .limit(probeCap + 1).collect()
    require(statRows.length <= probeCap,
      s"stats pass at $path exceeds $probeCap files")
    val stats = statRows.toSeq
      .filter(r => !r.isNullAt(1) && !r.isNullAt(2))
      .map(r => r.getString(0) ->
        Map(zoneCol -> (r.getDouble(1), r.getDouble(2))))
      .toMap
    val fm = footerMeta(path, files)
    writeManifest(path, v + 1, Manifest(files, Nil, stats, None, Nil,
      fm.counts,
      nullCounts = fm.nulls))
  }

  /** Z-ORDER clustering-preserving OPTIMIZE (the Delta `OPTIMIZE
    * ZORDER BY` shape, under version history): the snapshot is
    * range-clustered on the Morton interleave of both columns
    * min-max-stretched into 16 bits (graft.functions.ZOrder), so each
    * output file owns a compact BOX in (x, y) space, and the manifest
    * records per-file [min, max] of BOTH columns. A conjunctive box
    * predicate then prunes on both dimensions at once — including
    * through the DataSource V2 scan, whose pruning intersects EVERY
    * recorded column's band — the case 1-D clustering can't serve
    * (sorted-by-x files each span all of y). Deletion vectors fold in;
    * the stretch-bounds pass costs one tiny agg (4 doubles).
    */
  def compactClusteredZOrder(spark: SparkSession, path: String,
                             targetFiles: Int, colX: String,
                             colY: String): Unit = {
    require(targetFiles > 0, s"targetFiles must be positive, got $targetFiles")
    val v = latestVersion(path)
    require(v >= 0, s"no table at $path — call init first")
    val df = readVersion(spark, path, v)
    val bnd = df.agg(
      min(col(colX).cast("double")), max(col(colX).cast("double")),
      min(col(colY).cast("double")), max(col(colY).cast("double"))).head()
    def stretch(c: String, lo: Double, hi: Double) = {
      val span = math.max(hi - lo, java.lang.Double.MIN_NORMAL)
      least(lit(65535.0), greatest(lit(0.0),
        (col(c).cast("double") - lit(lo)) / lit(span) * 65535.0))
        .cast("long")
    }
    val z = graft.functions.ZOrder.interleave16(
      stretch(colX, bnd.getDouble(0), bnd.getDouble(1)),
      stretch(colY, bnd.getDouble(2), bnd.getDouble(3)))
    val files = writeCommitData(
      df.repartitionByRange(targetFiles, z).sortWithinPartitions(z),
      path, v + 1)
    val statRows = readRels(spark, path, files)
      .select(relExpr.as("rel"),
        col(colX).cast("double").as("zx"), col(colY).cast("double").as("zy"))
      .groupBy("rel")
      .agg(min("zx").as("xmin"), max("zx").as("xmax"),
        min("zy").as("ymin"), max("zy").as("ymax"))
      .limit(probeCap + 1).collect()
    require(statRows.length <= probeCap,
      s"stats pass at $path exceeds $probeCap files")
    val stats = statRows.toSeq.map { r =>
      val byCol =
        (if (r.isNullAt(1) || r.isNullAt(2)) Map.empty[String, (Double, Double)]
         else Map(colX -> (r.getDouble(1), r.getDouble(2)))) ++
          (if (r.isNullAt(3) || r.isNullAt(4)) Map.empty[String, (Double, Double)]
           else Map(colY -> (r.getDouble(3), r.getDouble(4))))
      r.getString(0) -> byCol
    }.filter(_._2.nonEmpty).toMap
    val fm = footerMeta(path, files)
    writeManifest(path, v + 1, Manifest(files, Nil, stats, None, Nil,
      fm.counts,
      nullCounts = fm.nulls))
  }

  /** KEY-GROUPED OPTIMIZE: rewrite the current snapshot so every data
    * file is SINGLE-VALUED in `partCol` (the parquet writer's
    * partitionBy does the grouping) and record each file's partition
    * value in the manifest (`pv` lines). This is the storage side of
    * STORAGE-PARTITIONED JOINS: the DataSource V2 scan reports
    * `KeyGroupedPartitioning(identity(partCol))` with per-file
    * partition keys, so two tables compacted on the same key join with
    * ZERO shuffle — at 100 TB the Exchange this deletes is usually the
    * whole query. Numeric partition columns also get degenerate [v, v]
    * clustering stats per file, so band/equality file skipping
    * composes for free. Deletion vectors fold in. Appends after this
    * commit carry no partition value and demote the scan to the
    * unpartitioned shape (correct, just shuffled) until the next
    * [[compactPartitioned]].
    */
  def compactPartitioned(spark: SparkSession, path: String,
                         partCol: String): Unit = {
    val v = latestVersion(path)
    require(v >= 0, s"no table at $path — call init first")
    val snap = readVersion(spark, path, v)
    require(snap.where(col(partCol).isNull).isEmpty,
      s"compactPartitioned($partCol) at $path: the partition column " +
        "must be non-null (a null key has no partition identity)")
    val filesAndValues = writeCommitDataPartitioned(
      snap, path, v + 1, partCol)
    val files = filesAndValues.map(_._1)
    val isNumeric = Footers.schema(spark,
        files.take(1).map(r => absPath(path, r)))
      .fields.find(_.name == partCol)
      .exists(f2 => f2.dataType.isInstanceOf[
        org.apache.spark.sql.types.NumericType])
    val stats =
      if (!isNumeric) Map.empty[String, Map[String, (Double, Double)]]
      else filesAndValues.map { case (rel, raw) =>
        val d = raw.toDouble
        rel -> Map(partCol -> (d, d))
      }.toMap
    val fm = footerMeta(path, files)
    writeManifest(path, v + 1, Manifest(files, Nil, stats, None, Nil,
      fm.counts, None, Some(partCol),
      filesAndValues.toMap,
      fm.nulls))
  }

  /** Manifest consultation for a BOX probe over a z-ordered version:
    * files whose per-file ranges intersect BOTH bands (files lacking
    * stats for either column open conservatively), plus the total.
    */
  def boxFiles(path: String, v: Int, colX: String, loX: Double,
               hiX: Double, colY: String, loY: Double,
               hiY: Double): (Seq[String], Int) = {
    val m = readManifest(path, v)
    def intersects(rel: String, c: String, lo: Double, hi: Double) =
      m.stats.get(rel).flatMap(_.get(c)) match {
        case Some((zmin, zmax)) => zmax >= lo && zmin < hi
        case None => true
      }
    val open = m.data.filter(rel =>
      intersects(rel, colX, loX, hiX) && intersects(rel, colY, loY, hiY))
    (open, m.data.length)
  }

  /** Box read over a z-ordered version: manifest-pruned files, residual
    * conjunctive predicate, deletion vectors still applied.
    */
  def readVersionBox(spark: SparkSession, path: String, v: Int,
                     colX: String, loX: Double, hiX: Double,
                     colY: String, loY: Double, hiY: Double): DataFrame = {
    val m = readManifest(path, v)
    val (open, _) = boxFiles(path, v, colX, loX, hiX, colY, loY, hiY)
    val pred = col(colX) >= loX && col(colX) < hiX &&
      col(colY) >= loY && col(colY) < hiY
    if (open.isEmpty)
      logicalView(readFiles(spark, path, m.data, m.dvs), m)
        .where(lit(false))
    else
      logicalView(readFiles(spark, path, open, m.dvs), m).where(pred)
  }

  /** Manifest consultation for a band probe on `zoneCol` over version
    * `v`: (files to open, total data files). A file is opened when its
    * stats band intersects [lo, hi) — or when it HAS no stats for this
    * column (post-compaction appends, legacy commits): conservative,
    * never wrong. Exposed separately so tests pin the pruned fraction.
    */
  def bandFiles(path: String, v: Int, zoneCol: String, lo: Double,
                hi: Double): (Seq[String], Int) = {
    val m = readManifest(path, v)
    // stats are keyed by PHYSICAL column name; callers pass logical
    val zc = toPhysicalName(m.colMap, zoneCol)
    val open = m.data.filter { rel =>
      m.stats.get(rel).flatMap(_.get(zc)) match {
        case Some((zmin, zmax)) => zmax >= lo && zmin < hi
        case None => true
      }
    }
    (open, m.data.length)
  }

  /** Band read over a clustered version: manifest-pruned files, then
    * the residual row predicate (stats are file-granular). Deletion
    * vectors still apply. Empty intersection short-circuits to an
    * empty frame with the version's schema — no data file is opened.
    */
  def readVersionBand(spark: SparkSession, path: String, v: Int,
                      zoneCol: String, lo: Double,
                      hi: Double): DataFrame = {
    val m = readManifest(path, v)
    val (open, _) = bandFiles(path, v, zoneCol, lo, hi)
    val pred = col(zoneCol) >= lo && col(zoneCol) < hi
    if (open.isEmpty)
      logicalView(readFiles(spark, path, m.data, m.dvs), m)
        .where(lit(false))
    else
      logicalView(readFiles(spark, path, open, m.dvs), m).where(pred)
  }

  /** Metadata-only COUNT(*) of version `v`: the sum of the manifest's
    * per-file footer row counts — valid only when every data file
    * carries one (pre-r11 commits don't) and no deletion vector applies
    * (a vector hides rows the footers still count; CoW rewrites can
    * also leave DANGLING vector entries, so presence alone disables
    * the shortcut). None → the caller must scan.
    */
  def metadataCount(path: String, v: Int): Option[Long] = {
    val m = readManifest(path, v)
    if (m.dvs.isEmpty && m.data.forall(m.rowCounts.contains))
      Some(m.data.map(m.rowCounts).sum)
    else None
  }

  // ---------------------------------------------------------------- //
  // retention

  /** VACUUM: physically reclaim everything the last `keepVersions`
    * snapshots don't reference — the retention verb that completes the
    * lifecycle ("snapshots are immutable" can't mean "disk grows
    * forever"). Pre-horizon MANIFESTS are removed first, so time travel
    * below the horizon fails loudly (`no version v`) rather than
    * half-reading a table whose files are gone; then every payload
    * file (data, deletion-vector, bloom sidecar) referenced by NO kept
    * manifest is deleted, and emptied commit directories go with it.
    * Cost is metadata-scale: kept-manifest reads + one listing per
    * payload directory — no data is read. Returns
    * (manifests removed, payload files removed). Single-writer, like
    * all maintenance verbs: don't vacuum under a concurrent writer.
    */
  def vacuum(path: String, keepVersions: Int): (Int, Int) = {
    require(keepVersions >= 1, "keepVersions must be >= 1")
    val latest = latestVersion(path)
    require(latest >= 0, s"no table at $path — call init first")
    val keepFrom = math.max(0, latest - keepVersions + 1)
    // the earliest KEPT version may be a DELTA whose fold chain runs
    // through manifests this vacuum is about to delete — materialize
    // it into an equivalent checkpoint FIRST (same Manifest, ts/batch
    // preserved; an idempotent rewrite, not a commit point)
    // atomic temp+rename, NOT an in-place truncate: a crash mid-write
    // would otherwise corrupt the fold base of every newer delta and a
    // concurrent reader could observe a torn manifest (r13 ADVICE)
    if (keepFrom > 0 && isDelta(rawManifest(path, keepFrom)))
      TableFs.writeUtf8Replace(manifestFile(path, keepFrom),
        checkpointPayload(path, keepFrom, readManifest(path, keepFrom))
          .mkString("\n"))
    val kept: Set[String] = (keepFrom to latest).flatMap { v =>
      val m = readManifest(path, v)
      m.data ++ m.dvs ++ m.blooms.map(_.rel) ++ m.cdc
    }.toSet
    var manifestsRemoved = 0
    (0 until keepFrom).foreach { v =>
      val f = manifestFile(path, v)
      if (TableFs.exists(f)) {
        TableFs.deleteFile(f)
        manifestsRemoved += 1
      }
    }
    var filesRemoved = 0
    // parquet checkpoint sidecars: drop any belonging to a removed
    // version, plus orphans of kept versions (crashed/retried commits
    // wrote a uniquely-named sidecar their commit point never
    // referenced) — computed AFTER the keepFrom materialization so a
    // freshly-written sidecar is referenced
    val refdCkpts: Set[String] = (keepFrom to latest).flatMap { v2 =>
      rawManifest(path, v2).find(_.startsWith("#ckpt="))
        .map(_.stripPrefix("#ckpt=").trim)
    }.toSet
    TableFs.listNames(manifestDir(path))
      .filter(_.matches("v\\d{5}\\.[0-9a-f]{8}\\.checkpoint\\.parquet"))
      .foreach { n =>
        if (n.slice(1, 6).toInt < keepFrom || !refdCkpts.contains(n)) {
          TableFs.deleteFile(s"${manifestDir(path)}/$n")
          filesRemoved += 1
        }
      }
    TableFs.listNames(path)
      .filter(_.matches("[cdf]\\d{5}|a[0-9a-f]{12}")).foreach { d =>
      // flat layout + one level of __pv=value partition subdirs
      val rels = TableFs.listNames(s"$path/$d").flatMap { n =>
        if (n.endsWith(".parquet")) Seq(s"$d/$n")
        else if (n.contains("="))
          TableFs.listNames(s"$path/$d/$n")
            .filter(_.endsWith(".parquet")).map(f2 => s"$d/$n/$f2")
        else Nil
      }
      rels.foreach { rel =>
        if (!kept.contains(rel)) {
          TableFs.deleteFile(s"$path/$rel")
          filesRemoved += 1
        }
      }
      def hasParquet(dir: String): Boolean =
        TableFs.listNames(dir).exists(n =>
          n.endsWith(".parquet") ||
            (n.contains("=") && hasParquet(s"$dir/$n")))
      if (!hasParquet(s"$path/$d"))
        TableFs.deleteRecursive(s"$path/$d")
    }
    (manifestsRemoved, filesRemoved)
  }

  // ---------------------------------------------------------------- //
  // bloom file-skipping for point lookups

  /** The k seeded bloom bit positions of a key expression. xxhash64 is
    * Spark-deterministic (same value every run, every node), which is
    * all a file-skipping index needs — build and probe just have to
    * agree, and both run through this one expression. The PROBE key
    * must carry the column's type (xxhash64 is type-sensitive).
    */
  private def bloomPositions(key: Column, bits: Int,
                             hashes: Int): Seq[Column] =
    (0 until hashes).map(i =>
      pmod(xxhash64(lit(i), key), lit(bits.toLong)).cast("int"))

  /** Build a per-file BLOOM sidecar over `keyCol` and commit it as a
    * new version (data unchanged — the manifest gains `bf` lines).
    * Closes the r10 gap: zone stats only serve the CLUSTERED column, so
    * a `key = k` probe on anything else opened every file. The sidecar
    * holds, per data file, the sorted set of bit positions its keys
    * light up (bounded by `bits`, i.e. ~4 MB per file row at the 2^20
    * default — vs the GBs of data file it lets a probe skip).
    * [[keyLookupFiles]] consults it distributedly and opens only files
    * whose filter contains ALL probe positions; data files appended
    * AFTER the build have no sidecar row and always open (conservative
    * — rebuild after appends/OPTIMIZE to re-cover, exactly like zone
    * stats). The one full column scan this costs is amortized over
    * every point lookup after it.
    */
  def buildBloomIndex(spark: SparkSession, path: String, keyCol: String,
                      bits: Int = 1 << 20, hashes: Int = 3): Unit = {
    require(bits > 0 && hashes > 0, "bits and hashes must be positive")
    val v = latestVersion(path)
    require(v >= 0, s"no table at $path — call init first")
    val m = readManifest(path, v)
    // `keyCol` is LOGICAL; the raw file read and the stored ref speak
    // PHYSICAL (bf sidecars describe file contents, like zs lines)
    val physKey = toPhysicalName(m.colMap, keyCol)
    val sub = f"f${v + 1}%05d"
    readRels(spark, path, m.data)
      .select(relExpr.as("file"),
        explode(array(bloomPositions(col(physKey), bits, hashes): _*))
          .as("p"))
      .groupBy("file")
      .agg(sort_array(collect_set(col("p"))).as("positions"))
      .write.mode(SaveMode.Overwrite).parquet(s"$path/$sub")
    val sidecars = TableFs.listNames(s"$path/$sub")
      .filter(_.endsWith(".parquet")).sorted.map(n => s"$sub/$n")
    commitManifest(path, v + 1, m, m.copy(
      batch = None, ts = None, cdc = Nil, txn = None,
      blooms = m.blooms.filterNot(_.keyCol == physKey) ++
        sidecars.map(r => BloomRef(physKey, bits, hashes, r))))
  }

  /** Bloom consultation for `keyCol = key` on version `v`: (files to
    * open, total data files). Candidates = sidecar-covered files whose
    * filter contains all probe positions, plus every UNcovered data
    * file (appends/compactions since the build — conservative, never
    * wrong). An absent key with no false positive yields an EMPTY open
    * set — the zero-file short-circuit. Both collects are
    * file-count-bounded, same cost class as the manifest itself.
    */
  def keyLookupFiles(spark: SparkSession, path: String, v: Int,
                     keyCol: String, key: Column): (Seq[String], Int) = {
    val m = readManifest(path, v)
    // accepts either name form: refs store physical, callers pass
    // logical (library users) or already-physicalized (the DSv2
    // consult) — identity on unmapped tables either way
    val refs = m.blooms.filter(r => r.keyCol == keyCol ||
      r.keyCol == toPhysicalName(m.colMap, keyCol))
    if (refs.isEmpty) (m.data, m.data.length)
    else {
      val bits = refs.head.bits
      val hashes = refs.head.hashes
      val sidecar = readRels(spark, path, refs.map(_.rel))
      val probe = bloomPositions(key, bits, hashes)
      def collectFiles(df: DataFrame): Seq[String] = {
        val rows = df.select("file").distinct()
          .limit(probeCap + 1).collect().map(_.getString(0))
        require(rows.length <= probeCap,
          s"bloom sidecar at $path exceeds $probeCap files")
        rows.toSeq
      }
      val covered = collectFiles(sidecar).toSet
      val cand = collectFiles(sidecar.where(
        probe.map(p => array_contains(col("positions"), p))
          .reduce(_ && _))).toSet
      val open = m.data.filter(rel =>
        cand.contains(rel) || !covered.contains(rel))
      (open, m.data.length)
    }
  }

  /** Bloom-pruned point lookup: only candidate files are opened, the
    * residual equality still applies (blooms admit false positives,
    * never false negatives), deletion vectors still apply. An absent
    * key short-circuits to an empty frame with the version's schema —
    * no data file is opened at all.
    */
  def readVersionKeyLookup(spark: SparkSession, path: String, v: Int,
                           keyCol: String, key: Column): DataFrame = {
    val m = readManifest(path, v)
    val (open, _) = keyLookupFiles(spark, path, v, keyCol, key)
    if (open.isEmpty)
      readFiles(spark, path, m.data, m.dvs).where(lit(false))
    else
      readFiles(spark, path, open, m.dvs).where(col(keyCol) === key)
  }

  // ---------------------------------------------------------------- //
  // snapshot diff

  /** Multiset diff between two snapshots — `change` = 'added' (in vB,
    * not vA) / 'removed' (in vA, not vB) — reading ONLY the files the
    * manifests DON'T share: if A = S ⊎ Ao and B = S ⊎ Bo (S the shared
    * files' rows), then A∖B = Ao∖Bo and B∖A = Bo∖Ao, so the shared
    * bulk never enters the scan. That makes "what changed between the
    * 2024-03 and 2024-04 corpus snapshots" cost proportional to the
    * CHANGED files, not the table — on a 100 TB snapshot pair where one
    * commit touched 0.1% of files, the diff reads 0.1%. [[netDiff]]
    * keeps multiset semantics (duplicate rows diff by multiplicity).
    *
    * Deletion vectors: a DV-only commit changes rows WITHOUT changing
    * the file list, so any shared file whose applicable tombstone set
    * differs between the versions is treated as unshared on both sides
    * (each side read under its own vectors). The tombstone symmetric
    * difference is vector-sized, not table-sized.
    */
  /** Row-level CHANGE FEED between two versions: one [[diffVersions]]
    * multiset diff PER COMMIT in (fromV, toV], each tagged with its
    * `commit_version` — "what did each commit do", the batch CDF shape
    * (an update commit shows as its key's 'removed' old row plus
    * 'added' new row). Cost is the sum of per-commit changed files —
    * the shared bulk never enters any scan — so auditing a day of
    * commits on a 100 TB table reads the day's deltas, not the table.
    * Schema evolution mid-range null-fills (unionByName).
    */
  def tableChanges(spark: SparkSession, path: String, fromV: Int,
                   toV: Int): DataFrame = {
    require(fromV < toV, s"need fromV < toV, got $fromV..$toV")
    (fromV + 1 to toV).map { v =>
      diffVersions(spark, path, v - 1, v)
        .withColumn("commit_version", lit(v.toLong))
    }.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  def diffVersions(spark: SparkSession, path: String, vA: Int,
                   vB: Int): DataFrame = {
    val mA = readManifest(path, vA)
    val mB = readManifest(path, vB)
    var shared = mA.data.toSet.intersect(mB.data.toSet)
    if (mA.dvs.toSet != mB.dvs.toSet) {
      val dvA = if (mA.dvs.isEmpty) None else Some(readDv(spark, path, mA.dvs))
      val dvB = if (mB.dvs.isEmpty) None else Some(readDv(spark, path, mB.dvs))
      val changed = (dvA, dvB) match {
        case (Some(a), Some(b)) => a.exceptAll(b).unionAll(b.exceptAll(a))
        case _ => dvA.orElse(dvB).get // sets differ, so one is non-empty
      }
      val changedArr = changed.select("__rel").distinct()
        .limit(probeCap + 1).collect()
        // __rel carries input_file_name()'s URI encoding; `shared`
        // holds literal manifest names — decode before comparing (the
        // loadDvMap representation bug, same class)
        .map(r => percentDecode(r.getString(0)))
      require(changedArr.length <= probeCap,
        s"tombstone-changed file set at $path exceeds $probeCap files")
      shared = shared.filterNot(changedArr.toSet.contains)
    }
    def rd(m: Manifest): DataFrame = {
      val own = m.data.filterNot(shared)
      if (own.nonEmpty) readFiles(spark, path, own, m.dvs)
      else readVersion(spark, path, vA).where(lit(false))
    }
    val ao0 = rd(mA)
    val bo0 = rd(mB)
    // schema-evolution alignment: a diff straddling an evolving commit
    // can leave one side without a later column — null-fill to the
    // union schema so the diff compares like for like (a legacy row
    // and its null-extended self are the same row, so evolution alone
    // never reports a change)
    val allCols = (ao0.columns ++ bo0.columns.filterNot(
      ao0.columns.contains)).toSeq
    val types = (bo0.schema ++ ao0.schema)
      .map(f => f.name -> f.dataType).toMap
    def align(df: DataFrame): DataFrame =
      allCols.foldLeft(df)((d, c) =>
        if (d.columns.contains(c)) d
        else d.withColumn(c, lit(null).cast(types(c))))
        .select(allCols.map(col): _*)
    // column-mapped tables: compare under the TO-version's LOGICAL
    // view (renames applied, dropped columns excluded — a row whose
    // only difference lives in a dropped column is no change to a
    // reader of this feed)
    def view(df: DataFrame): DataFrame =
      if (mB.colMap.isEmpty) df else logicalView(df, mB)
    val ao = view(align(ao0))
    val bo = view(align(bo0))
    netDiff(ao, bo, "change")
  }
}
