package graft.pipeline

import java.nio.charset.StandardCharsets
import java.util.UUID

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Manifest-committed artifact layout — how the dedup signature store,
  * the kept-docs output and the IVF-PQ index are written and
  * maintained. Its correctness does not rest on directory rename,
  * which real 100-TB deployments don't have: on an object store a
  * directory "rename" is a copy+delete over every key, and each crash
  * window would become a data-loss window. The layout works the way
  * table formats do (Iceberg/Delta's core idea, re-expressed at the
  * scale of one artifact): data directories are IMMUTABLE and
  * WRITE-ONCE under fresh unique names, and each commit CREATES one
  * small, new manifest version file. The one primitive required is
  * "create one small object if absent", which every relevant store
  * offers natively (HDFS create, S3/GCS/ABFS conditional PUT /
  * If-None-Match). Nothing is ever renamed: ManifestSpec runs the
  * whole lifecycle on a FileSystem that rejects renames, and
  * NoRenameGuardSpec keeps rename calls out of the main sources.
  *
  * Layout under an artifact root `dir`:
  * {{{
  *   dir/_MANIFEST.v<N>       committed state version N (format below)
  *   dir/gen-<value>-<uuid>/  immutable parquet, one dir per committed
  *                            write; `partitionCol` rides INSIDE the
  *                            rows (constant per dir → parquet RLE +
  *                            row-group stats, so a value filter
  *                            prunes whole files)
  * }}}
  *
  * Manifest format (TSV — one header, optional `@key	path`
  * property lines, one line per live generation, the end trailer):
  * {{{
  *   graft-manifest	1	<version>	<partitionCol>
  *   @<key>	<relative path>
  *   <value>	<relative dir name>	<rows>
  *   #end
  * }}}
  * Properties name auxiliary paths that must swap ATOMICALLY with the
  * row set — the IVF-PQ index's quantizer model is the motivating
  * case: a rebuild retrains the model AND re-encodes every row, and a
  * reader must never see the new model with the old codes (or vice
  * versa); one committed manifest carries both. Property-referenced
  * paths are live for [[gc]] exactly like entry paths.
  *
  * The commit protocol makes every crash window safe with NO restore
  * step: data is fully written BEFORE the manifest referencing it
  * commits, so the manifest never points at incomplete data, and a
  * crash at any instant leaves the previous manifest — and every
  * directory it references — untouched. Recovery is pure garbage
  * collection ([[gc]]): unreferenced `gen-*` directories and torn or
  * superseded version files are uncommitted debris.
  *
  * A half-written partition is NEVER VISIBLE to readers (it has no
  * manifest entry), so a crash-replayed ingest batch cannot match its
  * own partial rows. The own-batchId exclusion in
  * [[graft.streaming.IngestStream.startManifest]] is still needed for
  * a batch that COMMITTED here but not in the streaming checkpoint —
  * [[append]]'s upsert-by-value makes that replay idempotent, and the
  * value filter keeps it from matching its prior attempt's rows.
  *
  * Operational contract: one maintainer at a time, no concurrent
  * writer — a CHECKED invariant, not a convention: [[commit]]'s
  * conditional create refuses loudly when the version it derived from
  * is no longer the newest (optimistic concurrency — a second
  * maintainer can fail, never corrupt). Readers in OTHER processes
  * that loaded an older manifest keep scanning directories [[gc]] may
  * delete — a deployment with concurrent readers defers deletion by a
  * scan horizon (`minAgeMs`, threaded through every maintenance verb
  * as `gcMinAgeMs`; the entries are already gone from the manifest,
  * so no new reader sees them); the callers in this repository run
  * maintenance with readers stopped. */
object Manifest {

  /** The prefix of every version file (`_MANIFEST.v<N>`). A bare
    * `_MANIFEST` file is the retired rename-commit layout, which
    * [[versionFiles]] refuses. */
  val ManifestFile = "_MANIFEST"

  /** The end-of-manifest witness, REQUIRED as the last line on read: a
    * version file without it is a torn (crashed or in-flight) write
    * and is skipped, never trusted. */
  private val Trailer = "#end"

  /** One live generation: the logical partition value (batch id; base
    * generations use -1), the directory name relative to the artifact
    * root, and its committed row count (informational — consumers
    * read the data, the count feeds maintenance reporting). */
  final case class Entry(value: Long, path: String, rows: Long)

  /** The committed state: a monotonically increasing version (it names
    * the version file, so it is also the optimistic-concurrency
    * token), the live entries, and auxiliary property paths (see the
    * format note above). */
  final case class State(version: Long, partitionCol: String,
      entries: Seq[Entry], props: Map[String, String] = Map.empty)

  private def fs(spark: SparkSession, dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The `_MANIFEST.v<N>` files present, newest first. A directory
    * that still holds a single-file `_MANIFEST` is refused: read as
    * "no version files" it would look like a new, empty artifact, and
    * the next append would silently drop every committed row. */
  private def versionFiles(f: FileSystem, dir: String)
      : Seq[(Long, Path)] = {
    val d = new Path(dir)
    if (!f.exists(d)) return Seq.empty
    val listed = f.listStatus(d).toSeq.map(_.getPath)
    require(!listed.exists(_.getName == ManifestFile),
      s"$dir holds a single-file $ManifestFile (the retired " +
        s"rename-commit layout); only $ManifestFile.v<N> files are " +
        s"read — rewrite it as $ManifestFile.v<version> ending in a " +
        s"'$Trailer' line before maintaining")
    listed.flatMap { p =>
      val suffix = p.getName.stripPrefix(s"$ManifestFile.v")
      if (p.getName.startsWith(s"$ManifestFile.v") && suffix.nonEmpty &&
        suffix.forall(_.isDigit)) Some(suffix.toLong -> p)
      else None
    }.sortBy(-_._1)
  }

  def exists(spark: SparkSession, dir: String): Boolean =
    versionFiles(fs(spark, dir), dir).nonEmpty

  private def readText(f: FileSystem, p: Path): String = {
    val in = f.open(p)
    try {
      val bos = new java.io.ByteArrayOutputStream()
      org.apache.hadoop.io.IOUtils.copyBytes(in, bos, 65536, false)
      new String(bos.toByteArray, StandardCharsets.UTF_8)
    } finally in.close()
  }

  /** Parse one manifest body: None for a file not ending in
    * [[Trailer]] (skip it — an in-flight or crashed write); a complete
    * file that is still malformed is genuine corruption and fails
    * loudly. */
  private def parse(text: String, where: String): Option[State] = {
    val raw = text.split('\n').filter(_.nonEmpty).toSeq
    if (raw.isEmpty || raw.last != Trailer) return None
    val lines = raw.init
    require(lines.nonEmpty, s"empty manifest at $where")
    val head = lines.head.split('\t')
    require(head.length == 4 && head(0) == "graft-manifest" &&
      head(1) == "1", s"unrecognized manifest header at $where: " +
      lines.head)
    val (propLines, entryLines) =
      lines.tail.partition(_.startsWith("@"))
    val props = propLines.map { l =>
      val c = l.split('\t')
      require(c.length == 2, s"bad manifest property at $where: $l")
      c(0).stripPrefix("@") -> c(1)
    }.toMap
    val entries = entryLines.map { l =>
      val c = l.split('\t')
      require(c.length == 3, s"bad manifest line at $where: $l")
      Entry(c(0).toLong, c(1), c(2).toLong)
    }
    Some(State(head(2).toLong, head(3), entries, props))
  }

  /** Read the committed state: the highest COMPLETE version wins; torn
    * newer files (a concurrent or crashed commit mid-write) are
    * skipped, so a reader is never wrong mid-commit. Fails loudly on a
    * missing manifest — a caller holding the wrong path should hear
    * about it, not get an empty artifact. */
  def state(spark: SparkSession, dir: String): State = {
    val f = fs(spark, dir)
    val vs = versionFiles(f, dir)
    require(vs.nonEmpty, s"no $ManifestFile.v<N> under $dir — not a " +
      "manifest artifact (append first)")
    val complete = vs.iterator.flatMap { case (n, p) =>
      parse(readText(f, p), p.toString)
        .map(st => { require(st.version == n,
          s"$p header version ${st.version} != filename v$n"); st })
    }.take(1).toSeq
    require(complete.nonEmpty,
      s"only torn $ManifestFile.v<N> file(s) under $dir — a " +
        "first commit crashed mid-write; re-run the creating verb " +
        "(append), which replaces the torn version")
    complete.head
  }

  private def render(st: State): Array[Byte] = (
    Seq(s"graft-manifest\t1\t${st.version}\t${st.partitionCol}") ++
      st.props.toSeq.sortBy(_._1).map { case (k, v) => s"@$k\t$v" } ++
      st.entries.map(e => s"${e.value}\t${e.path}\t${e.rows}") ++
      Seq(Trailer)
    ).mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8)

  /** Atomically publish a new manifest state by CREATING
    * `_MANIFEST.v<st.version>` with overwrite=false. `st.version` MUST
    * be exactly one past the committed version this state was derived
    * from — the single-maintainer contract as a checked invariant. The
    * conditional create is the check, atomic end-to-end: a complete
    * file already at that version is a concurrent maintainer's commit
    * → refuse loudly, artifact untouched. A TORN file there is this
    * maintainer's own crashed attempt (no reader ever resolved it):
    * delete and retry once. One listing after the create catches the
    * rest: a newer live version means this state was derived from a
    * version gc has since collected.
    *
    * Package-private so ManifestSpec can drive the two-maintainer
    * interleaving directly. */
  private[pipeline] def commit(spark: SparkSession, dir: String,
      st: State): Unit = {
    val f = fs(spark, dir)
    val target = new Path(dir, s"$ManifestFile.v${st.version}")
    def createOnce(retry: Boolean): Unit = {
      val out =
        try f.create(target, false)
        catch { case _: org.apache.hadoop.fs.FileAlreadyExistsException |
            _: java.io.IOException if f.exists(target) =>
          val complete =
            parse(readText(f, target), target.toString).isDefined
          if (complete || !retry)
            throw new IllegalStateException(
              s"concurrent maintainer on $dir: version " +
                s"${st.version} already committed at $target — " +
                "the artifact allows ONE maintainer at a time; " +
                "reload and retry")
          // torn = our own crashed attempt (single-maintainer
          // contract; no reader ever trusted it) — replace it
          f.delete(target, false)
          return createOnce(retry = false)
        }
      try out.write(render(st))
      finally out.close()
    }
    createOnce(retry = true)
    // a maintainer stale by MORE than one version can create a number
    // gc already collected; readers resolve the newest version, so that
    // commit would be silently shadowed — withdraw it and fail instead
    val newest = versionFiles(f, dir).head._1
    if (newest > st.version) {
      f.delete(target, false)
      throw new IllegalStateException(
        s"concurrent maintainer on $dir: committed version " +
          s"${st.version} but version $newest is already live — the " +
          "artifact allows ONE maintainer at a time; reload and retry")
    }
  }

  /** The artifact's logical rows — every live generation in ONE
    * multi-path parquet scan; `partitionCol` is a real data column
    * (constant per file), so filters on it prune via row-group
    * stats. */
  def rows(spark: SparkSession, dir: String): DataFrame =
    rowsOf(spark, dir, state(spark, dir))

  private def rowsOf(spark: SparkSession, dir: String, st: State)
      : DataFrame = {
    require(st.entries.nonEmpty, s"manifest at $dir lists no live " +
      "generations — append before reading")
    spark.read.parquet(st.entries.map(e => s"$dir/${e.path}"): _*)
  }

  /** Append one generation: write `df` (plus the constant
    * `partitionCol = value` column) to a fresh `gen-` directory, then
    * commit a manifest that adds — or REPLACES, upsert-by-value — the
    * entry for `value`. The replacement arm is what makes a
    * crash-replayed ingest batch idempotent: the replay writes a
    * fresh directory, the commit swaps the entry, and the prior
    * attempt's directory becomes unreferenced debris for [[gc]].
    * Creates the manifest if the artifact is new. */
  def append(spark: SparkSession, dir: String, df: DataFrame,
      value: Long, partitionCol: String = "batch"): Unit = {
    val st =
      if (exists(spark, dir)) state(spark, dir)
      else State(0L, partitionCol, Nil, Map.empty)
    require(st.partitionCol == partitionCol,
      s"manifest at $dir tracks '${st.partitionCol}', not " +
        s"'$partitionCol'")
    appendWith(spark, dir, df, value, st)
    ()
  }

  /** [[append]]'s committing core against an ALREADY-LOADED state —
    * the seam [[Maintainer]] uses to skip the per-append manifest
    * re-read. Returns the state it committed. */
  private def appendWith(spark: SparkSession, dir: String,
      df: DataFrame, value: Long, st: State): State = {
    require(!df.columns.contains(st.partitionCol),
      s"frame already carries '${st.partitionCol}' — the layout owns it")
    val gen = s"gen-$value-${UUID.randomUUID().toString.take(8)}"
    df.withColumn(st.partitionCol, lit(value))
      .write.mode("overwrite").parquet(s"$dir/$gen")
    // footer-only count of what actually landed (cheap at maintenance
    // cadence; exact even if df was non-deterministic)
    val n = countParquet(spark, s"$dir/$gen")
    val next = State(st.version + 1, st.partitionCol,
      st.entries.filterNot(_.value == value) :+ Entry(value, gen, n),
      st.props)
    commit(spark, dir, next)
    next
  }

  /** Fold every live generation into one new base generation
    * (`value = baseValue`): write the full row multiset to a fresh
    * `gen-` directory (the read side scans the OLD generations — the
    * commit hasn't happened), commit a one-entry manifest, GC the old
    * directories. A crash anywhere leaves the prior manifest and all
    * its data untouched; the half-written new base is [[gc]] debris. */
  def compact(spark: SparkSession, dir: String, baseValue: Long = -1L,
      repartitionCols: Seq[String] = Nil, gcMinAgeMs: Long = 0L): Unit = {
    val st = state(spark, dir)
    val data = rowsOf(spark, dir, st).drop(st.partitionCol)
    // file count sized by artifact bytes
    val n = Sizing.writeWidth(data)
    val shaped =
      if (repartitionCols.nonEmpty)
        data.repartition(n, repartitionCols.map(col): _*)
      else data.repartition(n)
    val gen = s"gen-$baseValue-${UUID.randomUUID().toString.take(8)}"
    shaped.withColumn(st.partitionCol, lit(baseValue))
      .write.mode("overwrite").parquet(s"$dir/$gen")
    // count what LANDED (like every other committing verb) — summing
    // the old entries' counts would silently propagate a bad fold
    // instead of exposing it to maintenance reporting
    commit(spark, dir, State(st.version + 1, st.partitionCol,
      Seq(Entry(baseValue, gen, countParquet(spark, s"$dir/$gen"))),
      st.props))
    gc(spark, dir, gcMinAgeMs)
    ()
  }

  /** Replace the whole artifact with `df` as one new base generation —
    * the rebuild verb (parameter migration / quantizer retrain) in
    * manifest form; existing properties carry through. Same crash
    * story as [[compact]]. */
  def rebuild(spark: SparkSession, dir: String, df: DataFrame,
      baseValue: Long = -1L, gcMinAgeMs: Long = 0L): Unit = {
    val st = state(spark, dir)
    replaceAll(spark, dir, df, baseValue, st.partitionCol, Nil, st.props,
      gcMinAgeMs)
  }

  /** The general whole-artifact swap: write `df` as the single base
    * generation (optionally clustered by `repartitionCols` — the
    * index's `cell`), replace the property map, commit ONCE, GC.
    * Creates the manifest when the artifact is new — the first write
    * of a (rows + auxiliary paths) artifact is the same one-commit
    * swap as its rebuild. Callers stage property paths (e.g. a model
    * directory) under `dir` BEFORE calling; a crash leaves them as
    * unreferenced debris, never a half-swapped artifact. */
  def replaceAll(spark: SparkSession, dir: String, df: DataFrame,
      baseValue: Long, partitionCol: String,
      repartitionCols: Seq[String], props: Map[String, String],
      gcMinAgeMs: Long = 0L): Unit = {
    val st =
      if (exists(spark, dir)) state(spark, dir)
      else State(0L, partitionCol, Nil, Map.empty)
    require(st.partitionCol == partitionCol,
      s"manifest at $dir tracks '${st.partitionCol}', not " +
        s"'$partitionCol'")
    val n = Sizing.writeWidth(df)
    val shaped =
      if (repartitionCols.nonEmpty)
        df.repartition(n, repartitionCols.map(col): _*)
      else df.repartition(n)
    val gen = s"gen-$baseValue-${UUID.randomUUID().toString.take(8)}"
    shaped.withColumn(partitionCol, lit(baseValue))
      .write.mode("overwrite").parquet(s"$dir/$gen")
    val rows = countParquet(spark, s"$dir/$gen")
    commit(spark, dir, State(st.version + 1, partitionCol,
      Seq(Entry(baseValue, gen, rows)), props))
    gc(spark, dir, gcMinAgeMs)
    ()
  }

  /** Remove every row whose `idCol` is in `ids`, rewriting ONLY the
    * generations that contain a retracted id (one broadcast semi-join
    * pass finds them; untouched generations keep their files
    * byte-identical). All hit generations are rewritten to fresh
    * directories FIRST, then ONE commit swaps every entry at once —
    * so the retraction is also atomic as a whole: readers see either
    * none of it or all of it, never a half-retracted artifact.
    * Returns rows removed. */
  def retract(spark: SparkSession, dir: String, ids: DataFrame,
      idCol: String, gcMinAgeMs: Long = 0L): Long = {
    val st = state(spark, dir)
    val idsB = broadcast(ids.select(col(idCol)).distinct())
    val hits = rowsOf(spark, dir, st)
      .join(idsB, Seq(idCol), "left_semi")
      .groupBy(col(st.partitionCol).cast("long").as("__v"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    if (hits.isEmpty) return 0L
    val rewritten = st.entries.map { e =>
      if (!hits.contains(e.value)) e
      else {
        val gen =
          s"gen-${e.value}-${UUID.randomUUID().toString.take(8)}"
        spark.read.parquet(s"$dir/${e.path}")
          .join(idsB, Seq(idCol), "left_anti")
          .write.mode("overwrite").parquet(s"$dir/$gen")
        Entry(e.value, gen, e.rows - hits(e.value))
      }
    }
    commit(spark, dir,
      State(st.version + 1, st.partitionCol, rewritten, st.props))
    gc(spark, dir, gcMinAgeMs)
    hits.values.sum
  }

  /** Footer-only row count of one written generation, read DRIVER-SIDE
    * straight from the parquet footers (no Spark job — the first cut
    * ran `spark.read.parquet(path).count()` per append and the two
    * scheduling round-trips showed up as a measurable slice of the
    * per-micro-batch manifest overhead in the ingest_manifest probe).
    * A generation holds one write's worth of files — dozens, not
    * thousands — and the footers are opened CONCURRENTLY (each open
    * is a few ms of reader init + IO; the sequential loop was a
    * measurable slice of the ingest_manifest gap at micro-batch
    * cadence, where 2 appends × 32 files ran it 64 times per batch).
    * Also tolerates the all-rows-dropped batch (no parquet file at
    * all). */
  private def countParquet(spark: SparkSession, path: String): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new Path(path)
    val f = p.getFileSystem(conf)
    import scala.collection.parallel.CollectionConverters._
    f.listStatus(p).toSeq
      .filter(_.getPath.getName.endsWith(".parquet"))
      .par.map { st =>
        val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile
            .fromStatus(st, conf))
        try rd.getRecordCount finally rd.close()
      }.sum
  }

  /** Garbage-collect uncommitted debris: `gen-*`/`model-*` directories
    * the manifest doesn't reference (a crashed compact/retract/rebuild/
    * append wrote them but never committed, or a later commit
    * superseded them) and every `_MANIFEST.v<K>` except the resolved
    * current one (superseded versions and torn crashed writes). This
    * IS the crash recovery: no restore arm exists because no committed
    * data is ever unreferenced. Idempotent; run at ingest start.
    * Returns the number of paths deleted.
    *
    * `minAgeMs` is the concurrent-reader horizon: a reader in ANOTHER
    * process that loaded an older manifest may still be scanning
    * directories this manifest no longer references, so a deployment
    * with concurrent readers defers deletion until debris is older
    * than its longest scan (unreferenced debris is invisible to every
    * NEW reader either way — deferral costs only disk). The
    * single-actor maintenance verbs here use the default 0. */
  def gc(spark: SparkSession, dir: String, minAgeMs: Long = 0L): Int = {
    val f = fs(spark, dir)
    val st = state(spark, dir)
    val live = st.entries.map(_.path).toSet ++ st.props.values
    val liveVersion = s"$ManifestFile.v${st.version}"
    val cutoff = System.currentTimeMillis() - minAgeMs
    val victims = f.listStatus(new Path(dir)).toSeq.filter { s =>
      val n = s.getPath.getName
      (((n.startsWith("gen-") || n.startsWith("model-")) &&
        !live.contains(n)) ||
        (n.startsWith(s"$ManifestFile.v") && n != liveVersion &&
          n.stripPrefix(s"$ManifestFile.v").forall(_.isDigit))) &&
        s.getModificationTime <= cutoff
    }
    victims.foreach(s => f.delete(s.getPath, true))
    victims.size
  }

  /** Single-writer maintainer with CACHED manifest state — the
    * steady-state ingest loop's view of one artifact. The layout
    * contract already grants the maintainer exclusive write ownership,
    * so between its own commits the on-disk state cannot change and
    * re-reading the manifest before every read/append (two
    * read-and-commit cycles plus a state read per micro-batch in
    * [[graft.streaming.IngestStream.startManifest]]'s loop — each a
    * GET on an object store) buys nothing. The cache is built from
    * disk at construction and advanced in memory by each commit;
    * recovery is automatic — a restart constructs a fresh maintainer,
    * which reads whatever the last COMMITTED manifest says (ManifestSpec
    * proves the rebuilt cache continues correctly across stop/
    * restart, including after external maintenance between queries).
    * [[commit]]'s optimistic version check stays on: if the contract
    * is ever violated (a second writer advanced the manifest), the
    * next append fails loudly instead of silently dropping the other
    * writer's entries. */
  final class Maintainer(spark: SparkSession, dir: String,
      partitionCol: String = "batch") {
    private var cached: Option[State] =
      if (Manifest.exists(spark, dir)) Some(Manifest.state(spark, dir))
      else None

    /** The artifact's logical rows off the CACHED state — no manifest
      * read. Same shape as [[Manifest.rows]]. */
    def rows(): DataFrame = {
      val st = cached.getOrElse(throw new IllegalStateException(
        s"no manifest at $dir and nothing appended yet"))
      rowsOf(spark, dir, st)
    }

    /** [[Manifest.append]] driven off the cached state: one commit,
      * zero manifest reads (plus the commit's own version check). */
    def append(df: DataFrame, value: Long): Unit = {
      val st = cached
        .getOrElse(State(0L, partitionCol, Nil, Map.empty))
      cached = Some(appendWith(spark, dir, df, value, st))
    }
  }
}
