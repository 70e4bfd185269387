package graft.pipeline

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The manifest-committed artifact layout ([[Manifest]]): the four
  * lifecycle verbs (append/upsert, compact, retract, rebuild) keep
  * their row-level semantics, every crash window resolves by garbage
  * collection alone (no restore arm), and — via
  * [[RenameAuditFileSystem]] and [[NoRenameFileSystem]] — the layout
  * never renames anything: every commit is a conditional create of a
  * new version file. */
class ManifestSpec extends SparkSpec {
  import spark.implicits._

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private val corpus = Seq(
    1L -> "alpha beta gamma delta epsilon zeta eta theta iota kappa",
    2L -> "completely different text about spark query engines and shuffles",
    3L -> "a document about watermarks and state stores in streaming jobs",
    4L -> "another piece mentioning parquet bucketing and broadcast joins")
    .toDF("doc_id", "text")

  private def sigs(df: DataFrame): DataFrame =
    Dedup.signatureStore(df, "doc_id", "text")

  test("append/rows round-trip; upsert-by-value makes a replayed " +
      "batch idempotent; the partition value filters by column") {
    val dir = Files.createTempDirectory("manifest_rt").toString
    Manifest.append(spark, dir, sigs(corpus.filter(col("doc_id") <= 2)),
      -1L)
    Manifest.append(spark, dir, sigs(corpus.filter(col("doc_id") === 3)),
      0L)
    assert(sortedRows(Manifest.rows(spark, dir).drop("batch")) ==
      sortedRows(sigs(corpus.filter(col("doc_id") <= 3))))
    // the value rides as a data column — the own-batch exclusion shape
    assert(sortedRows(Manifest.rows(spark, dir)
        .filter(col("batch") =!= 0L).drop("batch")) ==
      sortedRows(sigs(corpus.filter(col("doc_id") <= 2))))

    // a replayed batch 0 (crash after manifest commit, before the
    // checkpoint commit) REPLACES its prior entry — no duplicates
    Manifest.append(spark, dir, sigs(corpus.filter(col("doc_id") === 3)),
      0L)
    assert(sortedRows(Manifest.rows(spark, dir).drop("batch")) ==
      sortedRows(sigs(corpus.filter(col("doc_id") <= 3))))
    val st = Manifest.state(spark, dir)
    assert(st.entries.map(_.value).sorted == Seq(-1L, 0L))
    // the replaced generation is unreferenced debris, and so are the
    // two superseded version files; gc removes all three
    assert(Manifest.gc(spark, dir) == 3)
    assert(new java.io.File(dir).listFiles().map(_.getName)
      .filter(_.startsWith("_MANIFEST")).toSeq == Seq("_MANIFEST.v3"))
    assert(sortedRows(Manifest.rows(spark, dir).drop("batch")) ==
      sortedRows(sigs(corpus.filter(col("doc_id") <= 3))))
  }

  test("compact preserves the row multiset and keep/drop, collapses " +
      "to one generation, and is idempotent — the CompactionSpec " +
      "contract, rename-less") {
    val dir = Files.createTempDirectory("manifest_compact").toString
    Seq(-1L -> corpus.filter(col("doc_id") <= 2),
        0L -> corpus.filter(col("doc_id") === 3),
        1L -> corpus.filter(col("doc_id") === 4))
      .foreach { case (v, df) =>
        Manifest.append(spark, dir, sigs(df), v) }
    def store(): DataFrame = Manifest.rows(spark, dir).drop("batch")
    val probe = Seq(
      100L -> "alpha beta gamma delta epsilon zeta eta theta iota kappa xx",
      103L -> "a genuinely novel document mentioning nothing seen before now")
      .toDF("doc_id", "text")
    def keeps(): Set[Long] =
      Dedup.dedupAgainstStore(probe, "doc_id", "text", store(),
        minJaccard = 0.5).select("doc_id").as[Long].collect().toSet
    val rowsBefore = sortedRows(store())
    assert(keeps() == Set(103L))

    Manifest.compact(spark, dir)
    val st = Manifest.state(spark, dir)
    assert(st.entries.map(_.value) == Seq(-1L))
    assert(sortedRows(store()) == rowsBefore)
    assert(keeps() == Set(103L))
    Manifest.compact(spark, dir) // idempotent
    assert(sortedRows(store()) == rowsBefore)
    // exactly one gen- directory remains on disk (old ones GC'd)
    assert(new java.io.File(dir).listFiles()
      .count(_.getName.startsWith("gen-")) == 1)
  }

  test("retract == rebuild from the surviving corpus, rewrites only " +
      "hit generations, and commits atomically — the RetractionSpec " +
      "contract, rename-less") {
    val dir = Files.createTempDirectory("manifest_retract").toString
    Seq(-1L -> corpus.filter(col("doc_id") <= 2),
        0L -> corpus.filter(col("doc_id") === 3),
        1L -> corpus.filter(col("doc_id") === 4))
      .foreach { case (v, df) =>
        Manifest.append(spark, dir, sigs(df), v) }
    def genFiles(value: Long): Map[String, Long] = {
      val st = Manifest.state(spark, dir)
      val p = st.entries.find(_.value == value).get.path
      new java.io.File(s"$dir/$p").listFiles().toSeq
        .filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.lastModified()).toMap
    }
    val untouchedSeed = genFiles(-1L)
    val untouched1 = genFiles(1L)

    val removed = Manifest.retract(spark, dir,
      Seq(3L, 999L).toDF("doc_id"), "doc_id")
    assert(removed == 1L)
    assert(sortedRows(Manifest.rows(spark, dir).drop("batch")) ==
      sortedRows(sigs(corpus.filter(col("doc_id") =!= 3L))))
    // untouched generations kept their files byte-identical
    assert(genFiles(-1L) == untouchedSeed)
    assert(genFiles(1L) == untouched1)
    // the hit generation keeps its VALUE but points at a fresh dir
    val st = Manifest.state(spark, dir)
    assert(st.entries.map(_.value).sorted == Seq(-1L, 0L, 1L))
    assert(st.entries.find(_.value == 0L).get.rows == 0L)
  }

  test("every crash window resolves by gc alone — no restore arm, no " +
      "directory rename: the reader is never wrong in ANY " +
      "intermediate state") {
    val dir = Files.createTempDirectory("manifest_crash").toString
    Manifest.append(spark, dir, sigs(corpus), -1L)
    val rowsBefore = sortedRows(Manifest.rows(spark, dir).drop("batch"))

    // crashed compact/append/rebuild: a fully- or half-written gen-
    // directory exists but the manifest never committed. The reader
    // reads THROUGH the manifest, so it is unaffected even before gc.
    sigs(corpus).withColumn("batch", lit(-1L))
      .write.parquet(s"$dir/gen--1-deadbeef")
    assert(sortedRows(Manifest.rows(spark, dir).drop("batch")) ==
      rowsBefore)
    // a crashed commit: the next version file was torn mid-write (no
    // end trailer) — also invisible, also gc debris
    val v = Manifest.state(spark, dir).version
    Files.write(java.nio.file.Paths.get(dir, s"_MANIFEST.v${v + 1}"),
      s"graft-manifest\t1\t${v + 1}\tbatch\n".getBytes)
    assert(sortedRows(Manifest.rows(spark, dir).drop("batch")) ==
      rowsBefore)
    assert(Manifest.gc(spark, dir) == 2)
    assert(Manifest.gc(spark, dir) == 0) // idempotent
    assert(sortedRows(Manifest.rows(spark, dir).drop("batch")) ==
      rowsBefore)

    // crashed retract: survivors rewritten to a fresh dir, manifest
    // not committed — the retraction simply hasn't happened yet
    sigs(corpus.filter(col("doc_id") =!= 3L))
      .withColumn("batch", lit(-1L))
      .write.parquet(s"$dir/gen--1-cafe0000")
    assert(sortedRows(Manifest.rows(spark, dir).drop("batch")) ==
      rowsBefore)
    assert(Manifest.gc(spark, dir) == 1)
    // re-running the retraction completes it
    assert(Manifest.retract(spark, dir, Seq(3L).toDF("doc_id"),
      "doc_id") == 1L)
    assert(sortedRows(Manifest.rows(spark, dir).drop("batch")) ==
      sortedRows(sigs(corpus.filter(col("doc_id") =!= 3L))))
  }

  test("a directory still holding a single-file _MANIFEST is refused " +
      "by every verb, never read as a new, empty artifact") {
    val dir = Files.createTempDirectory("manifest_legacy").toString
    sigs(corpus).withColumn("batch", lit(-1L))
      .write.parquet(s"$dir/gen--1-0ld0ld00")
    Files.write(java.nio.file.Paths.get(dir, "_MANIFEST"),
      "graft-manifest\t1\t1\tbatch\n-1\tgen--1-0ld0ld00\t4\n".getBytes)
    def refused(verb: => Any): Unit = {
      val e = intercept[IllegalArgumentException](verb)
      assert(e.getMessage.contains("single-file _MANIFEST"), e.getMessage)
    }
    refused(Manifest.exists(spark, dir))
    refused(Manifest.rows(spark, dir))
    refused(Manifest.append(spark, dir, sigs(corpus), 0L))
    refused(Manifest.gc(spark, dir))
    // nothing was written: the committed generation is still the only
    // data, and no version file appeared beside the legacy manifest
    assert(new java.io.File(dir).listFiles().map(_.getName).toSet
      .filterNot(_.startsWith(".")) == Set("_MANIFEST", "gen--1-0ld0ld00"))
  }

  test("gc with a minAge horizon defers deletion of fresh debris " +
      "(concurrent-reader deployments) and collects it once aged") {
    val dir = Files.createTempDirectory("manifest_age").toString
    Manifest.append(spark, dir, sigs(corpus), -1L)
    sigs(corpus).withColumn("batch", lit(-1L))
      .write.parquet(s"$dir/gen--1-debris00")
    // fresh debris survives a horizon-gated sweep …
    assert(Manifest.gc(spark, dir, minAgeMs = 3600000L) == 0)
    assert(new java.io.File(s"$dir/gen--1-debris00").exists())
    // … and the immediate single-actor sweep collects it
    assert(Manifest.gc(spark, dir) == 1)
  }

  test("the layout never renames a directory: the whole lifecycle on " +
      "a rename-auditing FS records only committer _temporary moves; " +
      "a directory rename on the same FS is recorded (negative " +
      "control)") {
    spark.sparkContext.hadoopConfiguration.set("fs.audit.impl",
      classOf[RenameAuditFileSystem].getName)
    val local = Files.createTempDirectory("manifest_audit").toString
    val dir = s"audit://$local/artifact"

    RenameAuditFileSystem.reset()
    Manifest.append(spark, dir, sigs(corpus.filter(col("doc_id") <= 2)),
      -1L)
    Manifest.append(spark, dir, sigs(corpus.filter(col("doc_id") === 3)),
      0L)
    Manifest.compact(spark, dir)
    Manifest.retract(spark, dir, Seq(2L).toDF("doc_id"), "doc_id")
    Manifest.rebuild(spark, dir, sigs(corpus))
    assert(sortedRows(Manifest.rows(spark, dir).drop("batch")) ==
      sortedRows(sigs(corpus)))
    // the output committer's internal task/job promotion is the only
    // rename (a deployment swaps the committer on an object store; the
    // LAYOUT's protocol is what's under proof here)
    val offenders = RenameAuditFileSystem.all().filterNot {
      case (src, dst, _) =>
        src.contains("/_temporary/") || dst.contains("/_temporary/")
    }
    assert(offenders.isEmpty,
      s"unexpected renames: ${offenders.mkString("; ")}")

    // negative control: the audit sees a whole-DIRECTORY rename outside
    // _temporary — the object-store hazard — so the empty offender
    // list above is a measurement, not a blind instrument
    val gen = Manifest.state(spark, dir).entries.head.path
    RenameAuditFileSystem.reset()
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new org.apache.hadoop.fs.Path(s"$dir/$gen"),
      new org.apache.hadoop.fs.Path(s"$dir/moved")))
    assert(RenameAuditFileSystem.all() ==
      Seq((s"$local/artifact/$gen", s"$local/artifact/moved", true)))
  }

  test("index artifact in manifest form: model and rows swap in ONE " +
      "commit — a staged-but-uncommitted rebuild serves the old pair, " +
      "compaction carries the model, the answer tracks writeIndex") {
    def vec(i: Long): Seq[Double] =
      (0 until 64).map(d => math.sin(i * 64 + d).abs + 0.01)
    val base = (0L until 48L).map(i => (i, vec(i))).toDF("vec_id", "v")
    val copies = (0L until 4L).map(i => (i + 1000L, vec(i)))
      .toDF("vec_id", "v")
    val corpus = base.unionByName(copies)
    val b1 = corpus.filter(col("vec_id") % 2 === 0)
    val b2 = corpus.filter(col("vec_id") % 2 === 1)
    val dir = Files.createTempDirectory("manifest_index").toString +
      "/index"
    val (model, idx1) = Similarity.ivfPqIndex(b1, "vec_id", "v",
      nlist = 4, m = 8, ksub = 8)
    Similarity.writeIndexManifest(spark, dir, model, idx1)
    Manifest.append(spark, dir,
      Similarity.indexBatch(b2, "vec_id", "v", model), 0L)
    val probes = base.filter(col("vec_id") < 4)
    def answer(): Seq[(Long, Long)] = {
      val (m2, idx) = Similarity.readIndexManifest(spark, dir)
      Similarity.knnIvfPqOnIndex(probes, idx, corpus, "vec_id", "v",
        m2, k = 1, nprobe = 2, shortlist = 32)
        .select("probe_id", "neighbor_id").as[(Long, Long)]
        .collect().sorted.toSeq
    }
    val expect = (0L until 4L).map(i => (i, i + 1000L))
    assert(answer() == expect)
    val rowsBefore = sortedRows(Manifest.rows(spark, dir).drop("batch"))

    // compaction folds generations, the @model property rides through
    Similarity.compactIndexManifest(spark, dir)
    assert(Manifest.state(spark, dir).entries.size == 1)
    assert(sortedRows(Manifest.rows(spark, dir).drop("batch")) ==
      rowsBefore)
    assert(answer() == expect)

    // crashed rebuild: a NEW model directory staged, commit never
    // happened — the artifact still serves the OLD (model, rows) pair
    // together, and gc sweeps the staged dir
    val modelBefore = Manifest.state(spark, dir).props("model")
    Similarity.ivfPqIndex(corpus, "vec_id", "v",
        nlist = 8, m = 8, ksub = 8)._1
      .toFrame(spark).write.parquet(s"$dir/model-deadbeef")
    assert(Manifest.state(spark, dir).props("model") == modelBefore)
    assert(answer() == expect)
    assert(Manifest.gc(spark, dir) == 1)
    assert(!new java.io.File(s"$dir/model-deadbeef").exists())

    // the committed rebuild swaps both at once (new model trained on
    // the full corpus; planted copies keep the answer pinned)
    Similarity.rebuildIndexManifest(spark, dir, corpus, "vec_id",
      "v", nlist = 8, m = 8, ksub = 8)
    assert(Manifest.state(spark, dir).props("model") != modelBefore)
    assert(answer() == expect)
    // exactly one model dir + one gen dir remain
    val names = new java.io.File(dir).listFiles().map(_.getName)
    assert(names.count(_.startsWith("model-")) == 1)
    assert(names.count(_.startsWith("gen-")) == 1)
  }

  test("the WHOLE lifecycle runs on a store that rejects file rename " +
      "outright — every commit a conditional create, readers resolve " +
      "the highest complete version, gc keeps only the current one; a " +
      "rename on the same store fails (negative control)") {
    spark.sparkContext.hadoopConfiguration.set("fs.norename.impl",
      classOf[NoRenameFileSystem].getName)
    val local = Files.createTempDirectory("manifest_norename").toString
    val dir = s"norename://$local/artifact"

    Manifest.append(spark, dir, sigs(corpus.filter(col("doc_id") <= 2)),
      -1L)
    Manifest.append(spark, dir, sigs(corpus.filter(col("doc_id") === 3)),
      0L)
    assert(sortedRows(Manifest.rows(spark, dir).drop("batch")) ==
      sortedRows(sigs(corpus.filter(col("doc_id") <= 3))))
    Manifest.compact(spark, dir)
    assert(Manifest.retract(spark, dir, Seq(2L).toDF("doc_id"),
      "doc_id") == 1L)
    Manifest.rebuild(spark, dir, sigs(corpus))
    assert(sortedRows(Manifest.rows(spark, dir).drop("batch")) ==
      sortedRows(sigs(corpus)))
    // gc keeps exactly the current version file; superseded versions
    // (and their crc sidecars, if the FS wrote any) are debris
    val st = Manifest.state(spark, dir)
    val names = new java.io.File(s"$local/artifact").listFiles()
      .map(_.getName).filter(_.startsWith("_MANIFEST"))
    assert(names.toSeq == Seq(s"_MANIFEST.v${st.version}"))

    // a torn NEWER version (crashed or in-flight commit) is invisible
    // to readers — they resolve the last complete version
    val rowsNow = sortedRows(Manifest.rows(spark, dir).drop("batch"))
    Files.write(java.nio.file.Paths.get(s"$local/artifact",
      s"_MANIFEST.v${st.version + 1}"),
      "graft-manifest\t1\t999\tbatch\n-1\tgen-missing\t7\n".getBytes)
    assert(Manifest.state(spark, dir).version == st.version)
    assert(sortedRows(Manifest.rows(spark, dir).drop("batch")) ==
      rowsNow)
    // …and the next real commit replaces its own torn attempt
    Manifest.append(spark, dir, sigs(corpus.filter(col("doc_id") === 1)),
      5L)
    assert(Manifest.state(spark, dir).version == st.version + 1)
    assert(Manifest.state(spark, dir).entries.exists(_.value == 5L))

    // negative control: the store really rejects a rename outside the
    // committer's _temporary area
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val live = Manifest.state(spark, dir).entries.head.path
    val boom = intercept[UnsupportedOperationException] {
      fs.rename(new org.apache.hadoop.fs.Path(s"$dir/$live"),
        new org.apache.hadoop.fs.Path(s"$dir/moved"))
    }
    assert(boom.getMessage.contains("no rename"))
  }

  test("single-maintainer contract is CHECKED: two interleaved " +
      "maintainers derive from the same version — the second commit " +
      "fails loudly after an append or a compaction, the artifact " +
      "keeps the first commit's rows") {
    // a stale append: B derives v2 from v1 after A committed v2
    val dir = Files.createTempDirectory("manifest_occ").toString
    Manifest.append(spark, dir, sigs(corpus.filter(col("doc_id") <= 2)),
      -1L)
    val loaded = Manifest.state(spark, dir) // both maintainers load v1
    // maintainer A commits an append
    Manifest.append(spark, dir, sigs(corpus.filter(col("doc_id") === 3)),
      0L)
    // maintainer B, still holding v1, tries to publish its own v2
    val stale = Manifest.State(loaded.version + 1, loaded.partitionCol,
      loaded.entries, loaded.props)
    val e = intercept[IllegalStateException] {
      Manifest.commit(spark, dir, stale)
    }
    assert(e.getMessage.contains("concurrent maintainer"))
    // A's committed rows are intact — B could fail, not clobber
    assert(sortedRows(Manifest.rows(spark, dir).drop("batch")) ==
      sortedRows(sigs(corpus.filter(col("doc_id") <= 3))))

    // a stale state racing MAINTENANCE: A compacts (v3 replaces both
    // entries with one base), B still holds v2 and tries to publish
    // v3 — the conditional create is the check here too
    val vloaded = Manifest.state(spark, dir)
    Manifest.compact(spark, dir)
    val vstale = Manifest.State(vloaded.version + 1,
      vloaded.partitionCol, vloaded.entries, vloaded.props)
    val ve = intercept[IllegalStateException] {
      Manifest.commit(spark, dir, vstale)
    }
    assert(ve.getMessage.contains("concurrent maintainer"))
    assert(Manifest.state(spark, dir).entries.map(_.value) == Seq(-1L))
    assert(sortedRows(Manifest.rows(spark, dir).drop("batch")) ==
      sortedRows(sigs(corpus.filter(col("doc_id") <= 3))))

    // stale by TWO versions: A appends then compacts, whose gc collects
    // the version number B derives next — B's create succeeds, and the
    // newer live version must still make it fail and withdraw the file
    val old = Manifest.state(spark, dir)
    Manifest.append(spark, dir, sigs(corpus.filter(col("doc_id") === 4)),
      1L)
    Manifest.compact(spark, dir)
    val stale2 = Manifest.State(old.version + 1, old.partitionCol,
      old.entries, old.props)
    assert(!new java.io.File(s"$dir/_MANIFEST.v${stale2.version}")
      .exists())
    val e2 = intercept[IllegalStateException] {
      Manifest.commit(spark, dir, stale2)
    }
    assert(e2.getMessage.contains("concurrent maintainer"))
    assert(!new java.io.File(s"$dir/_MANIFEST.v${stale2.version}")
      .exists())
    assert(sortedRows(Manifest.rows(spark, dir).drop("batch")) ==
      sortedRows(sigs(corpus)))
  }

  test("gc horizon vs a LIVE concurrent reader: a scan planned from " +
      "the old manifest completes correctly while compact defers gc " +
      "past the horizon; after the horizon the debris is collected") {
    val dir = Files.createTempDirectory("manifest_reader").toString
    Manifest.append(spark, dir, sigs(corpus.filter(col("doc_id") <= 2)),
      -1L)
    Manifest.append(spark, dir, sigs(corpus.filter(col("doc_id") > 2)),
      0L)
    val before = sortedRows(Manifest.rows(spark, dir).drop("batch"))
    // the concurrent reader: plans its scan from the CURRENT manifest
    // (file listing resolved now), materializes only later
    val reader = Manifest.rows(spark, dir).drop("batch")
    // maintenance runs with a reader horizon: the superseded
    // generations outlive the commit by minAge
    Manifest.compact(spark, dir, gcMinAgeMs = 3600000L)
    assert(Manifest.state(spark, dir).entries.map(_.value) == Seq(-1L))
    // the old reader's deferred materialization still answers
    // correctly — its files were not collected
    assert(sortedRows(reader) == before)
    // new readers see the compacted artifact
    assert(sortedRows(Manifest.rows(spark, dir).drop("batch")) == before)
    // past the horizon (simulated by an immediate sweep) the two
    // superseded generations and their two version files go
    assert(Manifest.gc(spark, dir) == 4)
    assert(new java.io.File(dir).listFiles()
      .count(_.getName.startsWith("gen-")) == 1)
  }

  test("Maintainer: cached-state appends commit correctly, the cache " +
      "rebuilds across restart (including after EXTERNAL maintenance " +
      "between maintainers), and a contract violation fails loudly " +
      "instead of clobbering") {
    val dir = Files.createTempDirectory("manifest_maint").toString
    val m1 = new Manifest.Maintainer(spark, dir)
    m1.append(sigs(corpus.filter(col("doc_id") <= 2)), -1L)
    m1.append(sigs(corpus.filter(col("doc_id") === 3)), 0L)
    // cached rows == disk rows
    assert(sortedRows(m1.rows().drop("batch")) ==
      sortedRows(Manifest.rows(spark, dir).drop("batch")))

    // "restart": external maintenance runs between maintainers, the
    // fresh maintainer's cache reads the COMMITTED post-maintenance
    // state and continues correctly
    Manifest.compact(spark, dir)
    val m2 = new Manifest.Maintainer(spark, dir)
    m2.append(sigs(corpus.filter(col("doc_id") === 4)), 1L)
    assert(sortedRows(m2.rows().drop("batch")) ==
      sortedRows(sigs(corpus)))
    assert(Manifest.state(spark, dir).entries.map(_.value).sorted ==
      Seq(-1L, 1L))

    // contract violation: m1's cache predates the compaction — its
    // next append must refuse (optimistic version check), and the
    // artifact keeps m2's committed entries
    val e = intercept[IllegalStateException] {
      m1.append(sigs(corpus.filter(col("doc_id") === 1)), 2L)
    }
    assert(e.getMessage.contains("concurrent maintainer"))
    assert(sortedRows(Manifest.rows(spark, dir).drop("batch")) ==
      sortedRows(sigs(corpus)))
  }

  test("startManifest: streaming ingest over manifest artifacts — " +
      "keep/drop matches the partitioned layout, compactManifest's " +
      "guard refuses a checkpoint-lagged batch, restart resumes") {
    val root = Files.createTempDirectory("manifest_ingest").toString
    val (inDir, storeDir, outDir, ckpt) =
      (s"$root/in", s"$root/store", s"$root/out", s"$root/ckpt")
    new java.io.File(inDir).mkdirs()
    def writeFile(name: String, lines: Seq[String]): Unit = {
      val tmp = java.nio.file.Paths.get(inDir, s".$name.tmp")
      Files.write(tmp, lines.mkString("", "\n", "\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      Files.move(tmp, java.nio.file.Paths.get(inDir, name))
      ()
    }
    def doc(id: Long, text: String): String =
      s"""{"doc_id":$id,"text":"$text"}"""
    Manifest.append(spark, storeDir, sigs(corpus.limit(1)), -1L)
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "doc_id BIGINT, text STRING")
    def start() = graft.streaming.IngestStream.startManifest(
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").json(inDir),
      "doc_id", "text", storeDir, outDir, ckpt, minJaccard = 0.5)

    val q1 = start()
    writeFile("b0.json", Seq(
      doc(10L, "a fresh document about watermarks and state stores"),
      doc(11L, "another fresh piece mentioning parquet bucketing today")))
    q1.processAllAvailable()
    writeFile("b1.json", Seq(
      doc(20L, "genuinely new content on codegen and tungsten"),
      // near-dup of batch-0's survivor: the store APPEND is live
      doc(21L, "a fresh document about watermarks and state stores zz")))
    q1.processAllAvailable()
    q1.stop()
    def kept(): Set[Long] = Manifest.rows(spark, outDir)
      .select("doc_id").as[Long].collect().toSet
    assert(kept() == Set(10L, 11L, 20L))

    // compact with the clean checkpoint: guard passes, one generation
    graft.streaming.IngestStream.compactManifest(spark, storeDir,
      outDir, ckpt)
    assert(Manifest.state(spark, storeDir).entries.map(_.value) ==
      Seq(-1L))
    assert(kept() == Set(10L, 11L, 20L))

    // restart on the compacted store: near-dup still drops, fresh
    // keeps — and the manifest guard refuses a checkpoint-lagged batch
    writeFile("b2.json", Seq(
      doc(30L, "another fresh piece mentioning parquet bucketing today xx"),
      doc(31L, "entirely unseen sentence about broadcast joins and skew")))
    val q2 = start()
    q2.processAllAvailable()
    q2.stop()
    assert(kept() == Set(10L, 11L, 20L, 31L))

    val commits = java.nio.file.Paths.get(ckpt, "commits")
    import scala.jdk.CollectionConverters._
    val newest = Files.list(commits).iterator().asScala
      .filter(p => p.getFileName.toString.forall(_.isDigit))
      .maxBy(_.getFileName.toString.toLong)
    Files.delete(newest)
    Files.deleteIfExists(commits.resolve(s".${newest.getFileName}.crc"))
    val e = intercept[IllegalArgumentException] {
      graft.streaming.IngestStream.compactManifest(spark, storeDir,
        outDir, ckpt)
    }
    assert(e.getMessage.contains("no checkpoint commit"))
    // finish the replay (upsert-by-value makes it idempotent), stop
    // cleanly — compaction then proceeds and keep/drop is unchanged
    val q3 = start()
    q3.processAllAvailable()
    q3.stop()
    assert(kept() == Set(10L, 11L, 20L, 31L))
    graft.streaming.IngestStream.compactManifest(spark, storeDir,
      outDir, ckpt)
    assert(Manifest.state(spark, storeDir).entries.map(_.value) ==
      Seq(-1L))
    assert(kept() == Set(10L, 11L, 20L, 31L))

    // retractManifest: the takedown path over both artifacts
    val (sr, dr) = graft.streaming.IngestStream.retractManifest(
      spark, storeDir, outDir, Seq(20L).toDF("doc_id"))
    assert(sr == 1L && dr == 1L)
    assert(kept() == Set(10L, 11L, 31L))
  }
}
