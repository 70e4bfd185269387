package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge

/** Similarity search over embedding columns (`Array[Float]`): brute-force
  * cosine top-k as the exact baseline, and a random-hyperplane-LSH bucketed
  * variant as the scale path (buckets shrink the candidate set from n to
  * n/2^planes per probe on average; recall is tunable via `planes`).
  * All math is codegen'd higher-order functions — no UDFs.
  */
object Similarity {

  /** Dot product of two equal-length double arrays — a native codegen'd
    * Catalyst expression (see [[graft.functions.VectorOps]]); sums in
    * ascending index order, value-identical to the previous
    * `aggregate(zip_with(...))` form. */
  def dot(a: Column, b: Column): Column = graft.functions.VectorOps.dot(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity; 0 when either vector is all-zero. */
  def cosine(a: Column, b: Column): Column = {
    val d = norm(a) * norm(b)
    when(d === 0, lit(0.0)).otherwise(dot(a, b) / d)
  }

  /** Deterministic pseudo-random hyperplanes: element j of plane p is a
    * unit-free value derived from xxhash64(p, j) mapped to (-0.5, 0.5). */
  private def planeLit(p: Int, dim: Int, seed: Int): Column =
    array((0 until dim).map { j =>
      val h = scala.util.hashing.MurmurHash3
        .productHash((p, j, seed)).toDouble
      lit(h / Int.MaxValue.toDouble / 2.0)
    }: _*)

  /** Sign-bit signature of `v` against `planes` hyperplanes → a bucket id in
    * [0, 2^planes). */
  def hyperplaneSignature(v: Column, planes: Int, dim: Int,
      seed: Int = 7): Column =
    (0 until planes).map { p =>
      when(dot(v, planeLit(p, dim, seed)) > 0,
        lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Brute-force cosine top-k: broadcast the (small) probe set against the
    * corpus, rank per probe. Exact; the baseline the ANN path is measured
    * against. */
  def knnBrute(probes: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, k: Int): DataFrame =
    topByCosine(bruteScored(probes, corpus, idCol, vecCol,
      labelCol = None), k)

  /** The brute-force scoring stage shared by [[knnBrute]] and
    * [[hardNegatives]] (the [[ivfScored]] twin): norms precomputed per
    * row behind a repartition barrier — the pair scan then costs one
    * dot product, and the (often single-split) parquet input is spread
    * across cores. With `labelCol` set, only cross-label pairs survive
    * the broadcast join. */
  private def bruteScored(probes: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, labelCol: Option[String])
      : DataFrame = {
    val shuffleN = Sizing.parallelism(corpus, Sizing.CpuDenseFloorBytes)
    val p = probes.select(
      Seq(col(idCol).as("probe_id"),
        col(vecCol).cast("array<double>").as("pv")) ++
        labelCol.map(l => col(l).as("__pl")): _*)
      .withColumn("pn", norm(col("pv")))
    val c = corpus.select(
      Seq(col(idCol).as("neighbor_id"),
        col(vecCol).cast("array<double>").as("cv")) ++
        labelCol.map(l => col(l).as("__nl")): _*)
      .withColumn("cn", norm(col("cv")))
      .repartition(shuffleN)
    val cond = labelCol match {
      case Some(_) => col("probe_id") =!= col("neighbor_id") &&
        col("__pl") =!= col("__nl")
      case None => col("probe_id") =!= col("neighbor_id")
    }
    broadcast(p).join(c, cond)
      .withColumn("cosine",
        when(col("pn") * col("cn") === 0, lit(0.0))
          .otherwise(dot(col("pv"), col("cv")) / (col("pn") * col("cn"))))
  }

  /** Exact per-probe top-k by descending cosine (ties → ascending
    * neighbor_id), ranked with the bounded [[topShortlist]]
    * instead of a per-probe `row_number` window — no task ever gathers
    * more than `k` of one partition's candidates for a probe, so a
    * probe whose candidate set is a constant fraction of the corpus no
    * longer serializes into a single sort task. `lit(0.0) - cosine` (not unary
    * minus) keeps a 0.0 cosine at +0.0 so the ascending shortlist order
    * is exactly the descending-cosine order; the round trip is
    * bit-exact for every finite double. Deliberate divergence from the
    * replaced window: a NaN cosine (a NaN embedding component — the
    * zero-norm guard only covers all-zero vectors) now ranks LAST
    * instead of first; `desc(cosine)` sorted NaN largest-first, which
    * put garbage at rank 1 — ranking it after every finite similarity
    * is the sane contract, and no oracle corpus produces NaN. */
  private def topByCosine(scored: DataFrame, k: Int): DataFrame =
    topShortlist(
      scored.select(col("probe_id"), col("neighbor_id"),
        (lit(0.0) - col("cosine")).as("__negcos")),
      "__negcos", k)
      .select(col("probe_id"), col("neighbor_id"),
        (lit(0.0) - col("__negcos")).as("cosine"))

  /** IVF (inverted-file) approximate top-k — the classic large-scale ANN
    * layout: the corpus is bucketed into `nlist` cells by nearest centroid,
    * and a probe scans only its `nprobe` nearest cells, shrinking the
    * candidate set from n to ~n·nprobe/nlist. Centroids train with
    * spherical k-means on a bounded stable-hash sample of the corpus
    * (driver-side, deterministic — the way production IVF indexes train
    * on a sample), and broadcast as literals; cell assignment is one
    * scan, and the probe→cell join shuffles on the cell id. With
    * `nprobe == nlist` the scan is exhaustive and matches knnBrute
    * exactly. */
  def knnIvf(probes: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, k: Int, nlist: Int = 16, nprobe: Int = 4)
      : DataFrame =
    topByCosine(ivfScored(probes, corpus, idCol, vecCol,
      labelCol = None, nlist, nprobe), k)

  /** The IVF candidate-generation + scoring stage shared by [[knnIvf]]
    * and [[hardNegativesIvf]]: centroid training, cell assignment, the
    * probe→cell join, and the cosine score. With `labelCol` set, each
    * side carries its label and only cross-label pairs survive — the
    * hard-negative predicate applied BEFORE the shortlist, so the k
    * slots are never wasted on same-label neighbors. */
  private def ivfScored(probes: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, labelCol: Option[String],
      nlist: Int, nprobe: Int): DataFrame = {
    require(nprobe >= 1 && nprobe <= nlist, "need 1 <= nprobe <= nlist")
    val shuffleN = Sizing.parallelism(corpus, Sizing.CpuDenseFloorBytes)
    val c0 = corpus.select(
      Seq(col(idCol).as("neighbor_id"),
        col(vecCol).cast("array<double>").as("cv")) ++
        labelCol.map(l => col(l).as("__nl")): _*)
    // Train centroids with spherical k-means on a bounded stable-hash
    // sample (32·nlist vectors — KBs-MBs on the driver, the same way
    // production IVF indexes train on a sample rather than the corpus).
    // Deterministic: hash-ordered sample, first-k init, fixed iterations,
    // first-index tie-breaks.
    val sample = c0.orderBy(xxhash64(col("neighbor_id")))
      .limit(math.max(nlist * 32, nlist))
      .select("cv").collect().map(_.getSeq[Double](0).toArray)
    require(sample.nonEmpty, "empty corpus")
    val cents = kmeans(sample, nlist, iters = 10)
    // fused native codegen row (VectorOps.CentroidSims): the
    // transform-over-literal-centroids form ran its lambda interpreted
    // per centroid on every corpus row — the assignment dominated the
    // 100x probe; value-identical by construction
    def cellSims(v: Column): Column =
      graft.functions.VectorOps.centroidSims(v, cents)
    // corpus side: each row lands in exactly one cell (argmax centroid)
    val assigned = c0.repartition(shuffleN)
      .withColumn("__sims", cellSims(col("cv")))
      .withColumn("cell", (array_position(col("__sims"),
        array_max(col("__sims"))) - 1).cast("int"))
      .drop("__sims")
    // probe side: top-nprobe cells by centroid similarity, exploded
    val probed = probes.select(
      Seq(col(idCol).as("probe_id"),
        col(vecCol).cast("array<double>").as("pv")) ++
        labelCol.map(l => col(l).as("__pl")): _*)
      .repartition(shuffleN)
      .withColumn("__ranked", slice(reverse(array_sort(
        transform(cellSims(col("pv")),
          (s, i) => struct(s.as("s"), i.as("i"))))), 1, nprobe))
      .withColumn("cell",
        explode(transform(col("__ranked"), x => x.getField("i"))))
      .select(Seq(col("probe_id"), col("pv"), col("cell")) ++
        labelCol.map(_ => col("__pl")): _*)
    // no dedup needed: a corpus row lives in exactly one cell
    val scored = probed.join(assigned, Seq("cell"))
      .filter(col("probe_id") =!= col("neighbor_id"))
    val filtered = labelCol match {
      case Some(_) => scored.filter(col("__pl") =!= col("__nl"))
      case None => scored
    }
    filtered.withColumn("cosine", cosine(col("pv"), col("cv")))
  }

  /** Driver-side spherical k-means over a bounded sample: assign by
    * cosine, recompute cell means, empty cells keep their centroid.
    * Pure, deterministic, O(sample·k·dim·iters) on KB-scale data. */
  private[pipeline] def kmeans(points: Array[Array[Double]], k: Int,
      iters: Int): Array[Array[Double]] = {
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < math.min(a.length, b.length)) {
        dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
      }
      val d = math.sqrt(na) * math.sqrt(nb)
      if (d == 0) 0.0 else dot / d
    }
    var cents = points.take(k).map(_.clone)
    val dim = points(0).length
    var it = 0
    while (it < iters) {
      val sums = Array.fill(cents.length)(new Array[Double](dim))
      val cnt = new Array[Int](cents.length)
      points.foreach { p =>
        var best = 0; var bestS = Double.NegativeInfinity; var i = 0
        while (i < cents.length) {
          val s = cos(p, cents(i))
          if (s > bestS) { bestS = s; best = i }
          i += 1
        }
        cnt(best) += 1
        var j = 0
        while (j < dim) { sums(best)(j) += p(j); j += 1 }
      }
      cents = cents.indices.map(i =>
        if (cnt(i) == 0) cents(i)
        else sums(i).map(_ / cnt(i))).toArray
      it += 1
    }
    cents
  }

  /** LSH-bucketed approximate top-k: `tables` independent sign-signature
    * hash tables (different hyperplane seeds); candidates are the union of
    * same-bucket points across tables, deduplicated, then exactly ranked.
    * At scale the bucket join replaces the broadcast cross join; recall ≈
    * 1-(1-p^planes)^tables with p the per-plane agreement probability —
    * tune `planes` (bucket size) and `tables` (recall) independently.
    * `multiprobe` additionally hashes each PROBE into every bucket one
    * sign-flip away (×(planes+1) probe rows, corpus side unchanged) — the
    * standard recall boost without growing the corpus index.
    *
    * Shuffle discipline (the minhashLsh pattern, Dedup.scala:200-245):
    * the signatures are computed from the vectors BEFORE the explode, and
    * only (id, tbl, sig) travels through the ×tables fan-out, the bucket
    * join, and the pair dedup — the 8-byte-per-row narrow shape. Vectors
    * re-attach per id afterwards, so the wide payload crosses exactly one
    * shuffle (keyed by id, proportional to the deduped candidate pairs,
    * never to pairs × tables). */
  def knnLsh(probes: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, k: Int, planes: Int = 4, tables: Int = 4,
      dim: Int = 64, multiprobe: Boolean = false): DataFrame = {
    val shuffleN = Sizing.parallelism(corpus, Sizing.CpuDenseFloorBytes)
    val pVec = probes.select(col(idCol).as("probe_id"),
      col(vecCol).cast("array<double>").as("pv"))
    val cVec = corpus.select(col(idCol).as("neighbor_id"),
      col(vecCol).cast("array<double>").as("cv"))
    def sigsOnly(df: DataFrame, id: String, vec: String,
        probeSide: Boolean): DataFrame = {
      val base = df.repartition(shuffleN) // spread the sig kernel; the
      // barrier also keeps the sig exprs off the explode
      val sigCols = (0 until tables).flatMap { tbl =>
        val sig = hyperplaneSignature(col(vec), planes, dim, seed = 7 + tbl)
        val exact = Seq(struct(lit(tbl).as("tbl"), sig.as("sig")))
        val flipped =
          if (probeSide && multiprobe)
            (0 until planes).map(pl => struct(lit(tbl).as("tbl"),
              sig.bitwiseXOR(lit(1L << pl)).as("sig")))
          else Nil
        exact ++ flipped
      }
      // the vector column is dropped BEFORE the fan-out: only the narrow
      // (id, tbl, sig) rows explode and shuffle into the bucket join
      base.select(col(id), explode(array(sigCols: _*)).as("ts"))
        .select(col(id), col("ts.tbl").as("tbl"), col("ts.sig").as("sig"))
    }
    val p = sigsOnly(pVec, "probe_id", "pv", probeSide = true)
    val c = sigsOnly(cVec, "neighbor_id", "cv", probeSide = false)
    val pairs = p.join(c, Seq("tbl", "sig"))
      .filter(col("probe_id") =!= col("neighbor_id"))
      .select("probe_id", "neighbor_id")
      .dropDuplicates("probe_id", "neighbor_id")
    // re-attach vectors per id for exact scoring
    val scored = pairs
      .join(pVec, Seq("probe_id"))
      .join(cVec, Seq("neighbor_id"))
      .withColumn("cosine", cosine(col("pv"), col("cv")))
    topByCosine(scored, k)
  }

  /** The bounded top-n shortlist shared by every ANN path ([[knnBrute]],
    * [[knnIvf]], [[knnPq]], [[knnIvfPq]], [[knnBinary]]): per probe,
    * keep the `n` smallest `(score, neighbor_id)` structs with
    * Catalyst's `collect_top_k`. Its partial aggregate caps each
    * partition's state at `n` per probe before the exchange, so no
    * task ever gathers a probe's full candidate set — this replaces the
    * single-task-per-probe `row_number` window a global top-k would
    * need. Struct order breaks score ties on `neighbor_id` in the id
    * type's native order, so the shortlist is deterministic across
    * partitionings for every id type, and scores and ids keep their
    * types. */
  private def topShortlist(scored: DataFrame, score: String, n: Int)
      : DataFrame =
    // a null embedding that slipped past the joins makes a null score:
    // a null-scored candidate is meaningless to rank, so drop it here
    scored.filter(col(score).isNotNull && col("neighbor_id").isNotNull)
      .groupBy(col("probe_id"))
      .agg(ColumnBridge.smallestN(
        struct(col(score), col("neighbor_id")), n).as("__xs"))
      .select(col("probe_id"), explode(col("__xs")).as("__x"))
      .select(col("probe_id"), col("__x." + score).as(score),
        col("__x.neighbor_id").as("neighbor_id"))

  /** Product-quantization approximate top-k — the compressed-domain ANN
    * layout for corpora whose raw vectors are too big to scan (the
    * IVF-PQ half Faiss pairs with [[knnIvf]]'s cells): the vector space
    * splits into `m` subspaces, each L2-k-means'd into `ksub` centroids
    * (driver-side on a bounded stable-hash sample, deterministic like
    * the IVF trainer), and every corpus vector is encoded as `m` small
    * code ints. Search = per-probe lookup tables against the codebooks
    * (asymmetric distance, ADC), a scan that touches ONLY the
    * (id, codes) frame — m ints per row instead of dim doubles, a
    * dim·8/m·4 compression of the hot loop (64-dim → 16× here) — then
    * an exact cosine re-rank of the `shortlist` best codes per probe.
    *
    * Shuffle discipline: the ADC scan output is reduced to the
    * per-probe shortlist by the bounded [[topShortlist]], so the
    * exchange carries ≤ partitions × shortlist narrow rows per probe,
    * never the corpus; full vectors re-attach per id only for the
    * ≤ `shortlist` re-rank rows (the knnLsh pattern). With `shortlist` ≥ corpus size
    * the exact re-rank makes the result identical to [[knnBrute]]
    * regardless of quantization error (SimilaritySpec asserts this). */
  def knnPq(probes: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, k: Int, m: Int = 8, ksub: Int = 16,
      shortlist: Int = 32, dim: Int = 64): DataFrame = {
    require(dim % m == 0, s"dim=$dim must split into m=$m subspaces")
    require(shortlist >= k, "shortlist must be at least k")
    val shuffleN = Sizing.parallelism(corpus, Sizing.CpuDenseFloorBytes)
    val dsub = dim / m
    val pVec = probes.select(col(idCol).as("probe_id"),
      col(vecCol).cast("array<double>").as("pv"))
    val cVec = corpus.select(col(idCol).as("neighbor_id"),
      col(vecCol).cast("array<double>").as("cv"))
    // train per-subspace codebooks on a bounded deterministic sample
    val sample = cVec.orderBy(xxhash64(col("neighbor_id")))
      .limit(math.max(ksub * 32, ksub))
      .select("cv").collect().map(_.getSeq[Double](0).toArray)
    require(sample.nonEmpty, "empty corpus")
    val books: Array[Array[Array[Double]]] = (0 until m).map { j =>
      kmeansL2(sample.map(_.slice(j * dsub, (j + 1) * dsub)), ksub, 10)
    }.toArray
    // encode: argmin_c ||sub − cent_c||² per subspace (first-min
    // tie-break); LUT: lut[j][c] = ||cent||² − 2·sub·cent — both as
    // one-node codegen expressions (VectorOps.PqEncode / PqLut,
    // value-identical to the unrolled form they replace; see
    // encodeVectors' note on the driver cost of the ~2.5k-node trees)
    val codes = cVec.repartition(shuffleN)
      .select(col("neighbor_id"),
        graft.functions.VectorOps.pqEncode(col("cv"), books).as("codes"))
    val pLut = pVec.withColumn("__lut",
        graft.functions.VectorOps.pqLut(col("pv"), books))
      .select("probe_id", "__lut")
    val adc = (0 until m).map { j =>
      element_at(element_at(col("__lut"), j + 1),
        element_at(col("codes"), j + 1) + 1)
    }.reduce(_ + _)
    val scored = broadcast(pLut)
      .join(codes, col("probe_id") =!= col("neighbor_id"))
      .select(col("probe_id"), col("neighbor_id"), adc.as("__adc"))
    // bounded top-shortlist (partition partials, then merge)
    val short = topShortlist(scored, "__adc", shortlist)
      .select("probe_id", "neighbor_id")
    // exact re-rank of the shortlist only — vectors re-attach per id
    val reranked = short
      .join(broadcast(pVec), Seq("probe_id"))
      .join(cVec, Seq("neighbor_id"))
      .withColumn("cosine", cosine(col("pv"), col("cv")))
    topByCosine(reranked, k)
  }

  /** IVF-PQ: the two scale mechanisms composed the way production ANN
    * indexes ship them (Faiss IVFPQ) — [[knnIvf]]'s coarse cells prune
    * WHICH rows are scanned (~n·nprobe/nlist candidates), [[knnPq]]'s
    * codes shrink WHAT each scan touches (m ints per row). Vectors are
    * PQ-encoded directly (no residual rotation — Faiss's
    * `by_residual=false` layout; documented, not hidden), so one code
    * frame serves every cell and the per-probe LUT is built once, not
    * per visited cell. Search: top-`nprobe` cells per probe → cell
    * equi-join against the (cell, id, codes) frame → ADC →
    * bounded shortlist → exact cosine re-rank (the [[knnPq]] discipline;
    * full vectors only touch the ≤ `shortlist` re-rank rows). An exact
    * duplicate of a probe lands in the probe's own top-1 cell with
    * minimum-possible ADC, so the planted-copy gate stays deterministic
    * at any `nprobe`. */
  def knnIvfPq(probes: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, k: Int, nlist: Int = 16, nprobe: Int = 4,
      m: Int = 8, ksub: Int = 16, shortlist: Int = 32, dim: Int = 64)
      : DataFrame = {
    require(nprobe >= 1 && nprobe <= nlist, "need 1 <= nprobe <= nlist")
    require(shortlist >= k, "shortlist must be at least k")
    val (model, indexed) = ivfPqIndex(corpus, idCol, vecCol, nlist, m,
      ksub, dim)
    val pVec = probes.select(col(idCol).as("probe_id"),
      col(vecCol).cast("array<double>").as("pv"))
    val cVec = corpus.select(col(idCol).as("neighbor_id"),
      col(vecCol).cast("array<double>").as("cv"))
    ivfPqQuery(pVec, indexed, cVec, model, k, nprobe, shortlist, dim)
  }

  /** The persistable IVF-PQ index MODEL: the driver-side quantizers —
    * coarse centroids (nlist × dim) + per-subspace PQ codebooks
    * (m × ksub × dim/m). [[toFrame]] / [[IvfPqModel.fromFrame]]
    * round-trip it through a tiny DataFrame (nlist + m·ksub rows) so
    * the model rides parquet next to the corpus-scale index frame. */
  final case class IvfPqModel(cents: Array[Array[Double]],
      books: Array[Array[Array[Double]]]) {
    def nlist: Int = cents.length
    def m: Int = books.length
    def ksub: Int = books.headOption.map(_.length).getOrElse(0)
    def toFrame(spark: org.apache.spark.sql.SparkSession): DataFrame = {
      import spark.implicits._
      val centRows = cents.zipWithIndex.toSeq.map { case (v, i) =>
        ("cent", i, 0, v.toSeq) }
      val bookRows = for {
        (bk, j) <- books.zipWithIndex.toSeq
        (c, ci) <- bk.zipWithIndex.toSeq
      } yield ("book", j, ci, c.toSeq)
      (centRows ++ bookRows).toDF("kind", "i", "j", "vec")
    }
  }

  object IvfPqModel {
    /** Rebuild from [[IvfPqModel.toFrame]] output (order-insensitive;
      * doubles round-trip parquet bit-exactly). */
    def fromFrame(df: DataFrame): IvfPqModel = {
      val rows = df.select("kind", "i", "j", "vec").collect()
      val cents = rows.filter(_.getString(0) == "cent")
        .sortBy(_.getInt(1)).map(_.getSeq[Double](3).toArray)
      val bookRows = rows.filter(_.getString(0) == "book")
      require(cents.nonEmpty && bookRows.nonEmpty,
        "model frame must carry cent and book rows")
      val m = bookRows.map(_.getInt(1)).max + 1
      val books = (0 until m).map { j =>
        bookRows.filter(_.getInt(1) == j).sortBy(_.getInt(2))
          .map(_.getSeq[Double](3).toArray)
      }.toArray
      IvfPqModel(cents, books)
    }
  }

  /** Build the persistable IVF-PQ INDEX — the other stored artifact a
    * 100-TB retrieval pipeline writes once and queries many times
    * (the [[graft.pipeline.Dedup.signatureStore]] of the ANN family):
    * train both quantizers on the same bounded deterministic sample
    * [[knnIvfPq]] uses, and return (model, index) where index =
    * (neighbor_id, cell, codes) — one scan of the corpus, ~m bytes of
    * codes per vector; write it parquet (bucket by cell) and the raw
    * vectors are only ever read again for the shortlist re-rank.
    * [[knnIvfPqOnIndex]] over the round-tripped artifacts equals
    * [[knnIvfPq]] exactly: same sample → same quantizers → same
    * cells, codes, ADC, and re-rank. */
  def ivfPqIndex(corpus: DataFrame, idCol: String, vecCol: String,
      nlist: Int = 16, m: Int = 8, ksub: Int = 16, dim: Int = 64)
      : (IvfPqModel, DataFrame) = {
    require(dim % m == 0, s"dim=$dim must split into m=$m subspaces")
    val shuffleN = Sizing.parallelism(corpus, Sizing.CpuDenseFloorBytes)
    val dsub = dim / m
    val cVec = corpus.select(col(idCol).as("neighbor_id"),
      col(vecCol).cast("array<double>").as("cv"))
    // one bounded deterministic sample trains BOTH quantizers
    val sample = cVec.orderBy(xxhash64(col("neighbor_id")))
      .limit(math.max(math.max(nlist, ksub) * 32, math.max(nlist, ksub)))
      .select("cv").collect().map(_.getSeq[Double](0).toArray)
    require(sample.nonEmpty, "empty corpus")
    val cents = kmeans(sample, nlist, iters = 10)
    val books = (0 until m).map { j =>
      kmeansL2(sample.map(_.slice(j * dsub, (j + 1) * dsub)), ksub, 10)
    }.toArray
    val model = IvfPqModel(cents, books)
    // corpus: one scan emits (cell, id, codes) — the entire index
    val indexed = encodeVectors(cVec.repartition(shuffleN), model, dim)
    (model, indexed)
  }

  /** Quantize a NEW batch of vectors under a FROZEN [[IvfPqModel]] —
    * the index-APPEND step of the continuous-ingest lifecycle: a
    * pipeline trains the quantizers once ([[ivfPqIndex]]), then each
    * arriving batch is encoded with the existing model (no re-train —
    * retraining would re-cell the whole historical index) and its
    * (neighbor_id, cell, codes) rows are parquet-appended next to the
    * prior index files. One scan of the batch, ~m bytes/vector out;
    * the union of per-batch encodings under one model is
    * row-identical to encoding the accumulated corpus in one pass
    * (same centroids → same cells, same codebooks → same codes) —
    * spec-proven, and shared-code-true: [[ivfPqIndex]]'s own encode
    * stage is this function. */
  def indexBatch(batch: DataFrame, idCol: String, vecCol: String,
      model: IvfPqModel, dim: Int = 64): DataFrame = {
    require(dim % model.m == 0,
      s"dim=$dim must split into m=${model.m} subspaces")
    val shuffleN =
      Sizing.parallelism(batch, Sizing.CpuDenseFloorBytes)
    encodeVectors(batch.select(col(idCol).as("neighbor_id"),
      col(vecCol).cast("array<double>").as("cv"))
      .repartition(shuffleN), model, dim)
  }

  /** Retract (un-keep) vectors from an IVF-PQ index FRAME: remove the
    * code rows of `ids` — the late-decontamination / takedown path.
    * Row-identical to re-encoding the surviving corpus under the same
    * frozen model (code rows are per-id), so retract-then-query ≡
    * rebuild-from-surviving-corpus (RetractionSpec + the q198 gate).
    * Takedown-sized id list — broadcast anti-join, no index shuffle. */
  def retract(index: DataFrame, ids: DataFrame,
      idCol: String = "neighbor_id"): DataFrame =
    index.join(
      broadcast(ids.select(col(idCol).as("neighbor_id")).distinct()),
      Seq("neighbor_id"), "left_anti")

  /** Write a (model, index) pair as ONE self-contained [[Manifest]]
    * artifact: the quantizer model stages to a fresh `model-<uuid>`
    * directory and the code rows to a fresh base generation clustered
    * by `cell` (the probed-scan unit), then ONE manifest commit makes
    * both live together — a reader can never see a new model with old
    * codes. Appends land via [[Manifest.append]] (the model is untouched);
    * compaction via [[compactIndexManifest]]; retraction via
    * [[Manifest.retract]] with idCol `neighbor_id`. */
  def writeIndexManifest(spark: org.apache.spark.sql.SparkSession,
      dir: String, model: IvfPqModel, index: DataFrame): Unit = {
    val modelGen =
      s"model-${java.util.UUID.randomUUID().toString.take(8)}"
    model.toFrame(spark).coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/$modelGen")
    Manifest.replaceAll(spark, dir, index, -1L, "batch", Seq("cell"),
      Map("model" -> modelGen))
  }

  /** Read a [[writeIndexManifest]] artifact back as (model, code rows
    * across every live generation). */
  def readIndexManifest(spark: org.apache.spark.sql.SparkSession,
      dir: String): (IvfPqModel, DataFrame) = {
    val st = Manifest.state(spark, dir)
    val modelPath = st.props.getOrElse("model",
      sys.error(s"manifest at $dir carries no @model property — " +
        "not a writeIndexManifest artifact"))
    (IvfPqModel.fromFrame(spark.read.parquet(s"$dir/$modelPath")),
      Manifest.rows(spark, dir).drop("batch"))
  }

  /** Fold every appended generation into one base re-clustered by
    * `cell` — the unit [[knnIvfPqOnIndex]]'s probed-cell scan reads,
    * so compaction also restores the cell locality per-batch appends
    * scattered. Query results are identical: the search is a function
    * of the (neighbor_id, cell, codes) row set, which compaction
    * preserves exactly (CompactionSpec). The `@model` property — and
    * its directory — ride through untouched. Run only while no
    * appender is active. */
  def compactIndexManifest(spark: org.apache.spark.sql.SparkSession,
      dir: String): Unit =
    Manifest.compact(spark, dir, repartitionCols = Seq("cell"))

  /** Retrain + re-encode — the drift-refresh step that closes the
    * index lifecycle (append → compact → retract → REBUILD): when
    * enough appended batches have shifted the vector distribution
    * away from the frozen quantizers (recall decays — retraining
    * re-cells the whole index, which is exactly why [[indexBatch]]
    * refuses to do it per batch), train fresh quantizers on the
    * CURRENT corpus and swap rows AND model in one commit. One corpus
    * scan (the [[ivfPqIndex]] encode); no appender may be active.
    * Returns the new model. */
  def rebuildIndexManifest(spark: org.apache.spark.sql.SparkSession,
      dir: String, corpus: DataFrame, idCol: String, vecCol: String,
      nlist: Int = 16, m: Int = 8, ksub: Int = 16, dim: Int = 64)
      : IvfPqModel = {
    val (model, index) = ivfPqIndex(corpus, idCol, vecCol, nlist, m,
      ksub, dim)
    writeIndexManifest(spark, dir, model, index)
    model
  }

  /** The shared encode stage: (neighbor_id, cv) → (neighbor_id, cell,
    * codes) under `model` — top-1 centroid via the codegen'd
    * [[graft.functions.VectorOps.centroidSims]], per-subspace argmin
    * code off the same LUT row the probe-side ADC uses. */
  private def encodeVectors(cVec: DataFrame, model: IvfPqModel,
      dim: Int): DataFrame = {
    // one-node PQ encode (VectorOps.PqEncode — value-identical to the
    // unrolled argmin-over-LUT expression form, which built ~2.5k
    // Catalyst nodes per call site and dominated these queries'
    // DRIVER time in analysis/codegen at bench scale)
    cVec
      .withColumn("__sims",
        graft.functions.VectorOps.centroidSims(col("cv"), model.cents))
      .withColumn("cell", (array_position(col("__sims"),
        array_max(col("__sims"))) - 1).cast("int"))
      .select(col("neighbor_id"), col("cell"),
        graft.functions.VectorOps.pqEncode(col("cv"), model.books)
          .as("codes"))
  }

  /** Query a PERSISTED IVF-PQ index: probes rank cells against the
    * model's centroids, build their ADC LUTs once, scan only the
    * probed cells' code rows, and re-rank the shortlist exactly
    * against the raw vectors (`corpus` supplies those — the only
    * touch of the vector table, shortlist-sized). Loud guards on the
    * index frame's shape and the model/index code-width match. */
  def knnIvfPqOnIndex(probes: DataFrame, index: DataFrame,
      corpus: DataFrame, idCol: String, vecCol: String,
      model: IvfPqModel, k: Int, nprobe: Int = 4, shortlist: Int = 32,
      dim: Int = 64, checkWidths: Boolean = true): DataFrame = {
    require(nprobe >= 1 && nprobe <= model.nlist,
      s"need 1 <= nprobe <= nlist = ${model.nlist}")
    require(shortlist >= k, "shortlist must be at least k")
    require(Set("neighbor_id", "cell", "codes")
        .subsetOf(index.columns.toSet),
      "index frame must carry (neighbor_id, cell, codes); has " +
        index.columns.mkString(", "))
    // min/max over ALL rows (one column-pruned pass, map-side partial
    // agg) — a first-row check missed mixed-width indexes, e.g. two
    // indexes built under different models appended together, which
    // would silently mis-score ADC for the mismatched rows. An EMPTY
    // index yields a null agg row and legitimately answers zero
    // neighbors. The pass costs one index scan: a serving loop that
    // validated its index once at load passes checkWidths = false so
    // repeated queries keep the cells-only scan the structure exists
    // for.
    if (checkWidths)
      index.agg(min(size(col("codes"))), max(size(col("codes"))))
        .head(1).foreach { r =>
          if (!r.isNullAt(0))
            require(r.getInt(0) == model.m && r.getInt(1) == model.m,
              s"index code widths [${r.getInt(0)}, ${r.getInt(1)}] " +
                s"!= model m = ${model.m} — the index was built (or " +
                "partly appended) with a different model")
        }
    val pVec = probes.select(col(idCol).as("probe_id"),
      col(vecCol).cast("array<double>").as("pv"))
    val cVec = corpus.select(col(idCol).as("neighbor_id"),
      col(vecCol).cast("array<double>").as("cv"))
    ivfPqQuery(pVec,
      index.select("neighbor_id", "cell", "codes"), cVec, model, k,
      nprobe, shortlist, dim)
  }

  /** The IVF-PQ query stage shared by [[knnIvfPq]] and
    * [[knnIvfPqOnIndex]]: probe-side cell ranking + LUT, the cell
    * equi-join against the code frame (AQE broadcasts the probe side
    * at runtime when small, like knnIvf's cell join), bounded
    * shortlist, exact re-rank. */
  private def ivfPqQuery(pVec: DataFrame, indexed: DataFrame,
      cVec: DataFrame, model: IvfPqModel, k: Int, nprobe: Int,
      shortlist: Int, dim: Int): DataFrame = {
    val shuffleN = Sizing.parallelism(pVec, Sizing.CpuDenseFloorBytes)
    val probed = pVec.repartition(shuffleN)
      .withColumn("__ranked", slice(reverse(array_sort(
        transform(
          graft.functions.VectorOps.centroidSims(col("pv"), model.cents),
          (s, i) => struct(s.as("s"), i.as("i"))))), 1, nprobe))
      .withColumn("cell",
        explode(transform(col("__ranked"), x => x.getField("i"))))
      .select(col("probe_id"), col("cell"),
        graft.functions.VectorOps.pqLut(col("pv"), model.books)
          .as("__lut"))
    val adc = (0 until model.m).map { j =>
      element_at(element_at(col("__lut"), j + 1),
        element_at(col("codes"), j + 1) + 1)
    }.reduce(_ + _)
    val scored = probed.join(indexed, Seq("cell"))
      .filter(col("probe_id") =!= col("neighbor_id"))
      .select(col("probe_id"), col("neighbor_id"), adc.as("__adc"))
    val short = topShortlist(scored, "__adc", shortlist)
      .select("probe_id", "neighbor_id")
    val reranked = short
      .join(broadcast(pVec), Seq("probe_id"))
      .join(cVec, Seq("neighbor_id"))
      .withColumn("cosine", cosine(col("pv"), col("cv")))
    topByCosine(reranked, k)
  }

  /** SemDeDup-style semantic near-duplicate pairs (Abbas et al. 2023):
    * block the corpus into k-means cells (the [[knnIvf]] coarse
    * quantizer — bounded deterministic sample, argmax-cosine
    * assignment), then pair-scan WITHIN each cell for cosine ≥
    * `threshold`. Exact duplicates share a cell by construction
    * (identical vector → identical argmax), so recall on true clones is
    * 1.0 at any nlist; cross-cell near-dups are the method's documented
    * miss class — SemDeDup accepts boundary losses in exchange for
    * replacing the n² corpus scan with Σ|cell|² (balanced cells →
    * ~n²/nlist). The within-cell join shuffles each side once on the
    * cell id with norms precomputed; feed the pairs to
    * [[Dedup.clusterDeduped]] for the cleaned corpus. */
  def semanticNearDupPairs(corpus: DataFrame, idCol: String,
      vecCol: String, threshold: Double, nlist: Int = 16, dim: Int = 64,
      maxCellRows: Long = 1000000L): DataFrame = {
    require(maxCellRows > 0, "maxCellRows must be positive")
    val shuffleN = Sizing.parallelism(corpus, Sizing.CpuDenseFloorBytes)
    val cVec = corpus.select(col(idCol).as("__id"),
      col(vecCol).cast("array<double>").as("__v"))
    val sample = cVec.orderBy(xxhash64(col("__id")))
      .limit(math.max(nlist * 32, nlist))
      .select("__v").collect().map(_.getSeq[Double](0).toArray)
    require(sample.nonEmpty, "empty corpus")
    val cents = kmeans(sample, nlist, iters = 10)
    // persisted: both sides of the cell self-join read this frame —
    // unpersisted, the nlist-cosine assignment (an interpreted lambda per
    // row) and the upstream scan execute twice (the minhashLsh
    // multi-branch finding; callers/benchmarks release via clearCache)
    val assigned = cVec.repartition(shuffleN)
      .withColumn("__sims",
        graft.functions.VectorOps.centroidSims(col("__v"), cents))
      .withColumn("__cell", (array_position(col("__sims"),
        array_max(col("__sims"))) - 1).cast("int"))
      .withColumn("__n", norm(col("__v")))
      .select("__id", "__cell", "__v", "__n")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // cell-size audit (the Intervals.overlapJoin fan-out guard): a
    // degenerate corpus (many identical / zero vectors) collapses into
    // one cell and the within-cell self-join silently goes |cell|² —
    // fail loudly instead. One cheap count over the persisted frame.
    val hot = assigned.groupBy("__cell").count()
      .agg(max("count")).head()
    if (!hot.isNullAt(0)) {
      val biggest = hot.getLong(0)
      if (biggest > maxCellRows) {
        // release the cache before failing — a caller probing corpora
        // for degeneracy must not strand a corpus-sized cached frame
        // per rejected call
        assigned.unpersist()
        throw new IllegalArgumentException(
          s"hottest k-means cell holds $biggest rows (max $maxCellRows): " +
            "the within-cell pair scan would be quadratic in it — raise " +
            "nlist (more, smaller cells) or maxCellRows")
      }
    }
    val a = assigned.select(col("__cell"), col("__id").as("id_a"),
      col("__v").as("__va"), col("__n").as("__na"))
    val b = assigned.select(col("__cell"), col("__id").as("id_b"),
      col("__v").as("__vb"), col("__n").as("__nb"))
    a.join(b, Seq("__cell"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cosine",
        when(col("__na") * col("__nb") === 0, lit(0.0))
          .otherwise(dot(col("__va"), col("__vb")) /
            (col("__na") * col("__nb"))))
      .filter(col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine")
  }

  /** Scale-correct semantic near-dup CLUSTER edges — the
    * [[graft.pipeline.Dedup.clusterEdges]] identity applied to vectors:
    * the edge set [[graft.pipeline.Dedup.clusterDeduped]] needs,
    * WITHOUT the quadratic term identical-embedding cliques put into
    * [[semanticNearDupPairs]]'s within-cell scan.
    *
    * A re-crawled page's encoder emits the SAME vector every time, so a
    * production embedding table carries hot byte-identical cliques —
    * and identical vectors share a k-means cell by construction, so a
    * clique of c copies makes c²/2 within-cell pairs (measured: 48×
    * shuffle for 10× rows on the duplicated-vector synthesis; the
    * text-side twin measured 603× before round 13's clusterEdges).
    * For CLUSTERING the clique's pairs are redundant: connectivity only
    * needs a star. So: (1) collapse identical vectors to their min-id
    * representative and emit (rep, member) star edges — cosine exactly
    * 1 by construction; (2) run the full cell-blocked τ-scan on
    * DISTINCT vectors only; (3) union. For any FIXED cell assignment
    * the components are provably identical to all-pairs: cosine is a
    * function of the vectors alone, so any cross-clique pair (x, y)
    * implies the (rep(x), rep(y)) pair this construction keeps, and
    * cliques stay connected through their star (SimilaritySpec proves
    * the identity exactly at nlist = 1, where no cell boundary
    * exists). Across constructions the quantizer's bounded sample
    * differs (it now trains on DISTINCT vectors — a dedup-debiased
    * codebook), so the cell-BOUNDARY miss class can shift; that is
    * SemDeDup's documented noise either way and never affects true
    * clones, which share a cell under any centroids.
    *
    * Zero-norm vectors are EXCLUDED from the collapse (the τ-scan
    * defines their cosine as 0 — identical zero vectors do not pair in
    * all-pairs, so a star edge would WIDEN the components).
    *
    * [[semanticNearDupPairs]] itself keeps all-pairs listing semantics
    * — use it when the pairs are the product; this when feeding
    * components. */
  def semanticClusterEdges(corpus: DataFrame, idCol: String,
      vecCol: String, threshold: Double, nlist: Int = 16, dim: Int = 64,
      maxCellRows: Long = 1000000L): DataFrame = {
    // identity = two independently-seeded xxhash64s over the array
    // (~128 collision bits, the Dedup md5-of-text convention's
    // strength at codegen speed — md5(to_json(vec)) measured 2×
    // slower, a raw array-keyed join 26× the shuffle bytes) so the
    // collapse shuffles 16-byte keys + ids, never the vectors
    val vArr = col(vecCol).cast("array<double>")
    val keyed = corpus
      .select(col(idCol),
        struct(xxhash64(vArr), xxhash64(lit(1), vArr)).as("__ck"))
      .filter(norm(vArr) > 0)
    val reps = keyed.groupBy("__ck").agg(min(col(idCol)).as("__rep"))
    val star = keyed.join(reps, Seq("__ck"))
      .filter(col(idCol) =!= col("__rep"))
      .select(col("__rep").as("id_a"), col(idCol).as("id_b"))
    val repDocs = corpus.join(
      reps.select(col("__rep").as(idCol)), Seq(idCol), "left_semi")
    semanticNearDupPairs(repDocs, idCol, vecCol, threshold, nlist,
      dim, maxCellRows)
      .select("id_a", "id_b")
      .unionByName(star)
  }

  /** Driver-side Euclidean k-means over a bounded sample (the PQ
    * codebook trainer): first-k init, argmin-L2 assignment with
    * first-index tie-breaks, empty cells keep their centroid — pure and
    * deterministic, O(sample·k·dim·iters) on KB-scale data. */
  private[pipeline] def kmeansL2(points: Array[Array[Double]], k: Int,
      iters: Int): Array[Array[Double]] = {
    def d2(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
      s
    }
    var cents = points.take(k).map(_.clone)
    val dim = points(0).length
    var it = 0
    while (it < iters) {
      val sums = Array.fill(cents.length)(new Array[Double](dim))
      val cnt = new Array[Int](cents.length)
      points.foreach { p =>
        var best = 0; var bestD = Double.MaxValue; var i = 0
        while (i < cents.length) {
          val d = d2(p, cents(i))
          if (d < bestD) { bestD = d; best = i }
          i += 1
        }
        cnt(best) += 1
        var j = 0
        while (j < dim) { sums(best)(j) += p(j); j += 1 }
      }
      cents = cents.indices.map(i =>
        if (cnt(i) == 0) cents(i)
        else sums(i).map(_ / cnt(i))).toArray
      it += 1
    }
    cents
  }

  /** Per-dimension MEDIAN thresholds for 1-bit quantization, trained on
    * a BOUNDED deterministic sample — the `sampleCap` rows with the
    * smallest `md5(id)` (id tie-break), the same trainer discipline as
    * the PQ / IVF codebooks above. An exact full-corpus percentile
    * would buffer every corpus value per dimension inside one
    * aggregation state (unbounded at 100 TB); the hash-ordered sample
    * keeps the trainer O(sampleCap · dim) on the driver while staying
    * bit-deterministic across partitionings, retries, and engines
    * (md5 ordering is data-, not placement-, defined; DuckDB's
    * `ORDER BY md5(CAST(id AS VARCHAR))` reproduces it verbatim for the
    * oracle). Medians are interpolated (`lo + (hi−lo)·0.5`), matching
    * `percentile`/`quantile_cont`; they balance the bit distribution,
    * the standard binary-quantization choice. Quantization error never
    * leaks into result ordering — [[knnBinary]]'s exact cosine re-rank
    * sees only WHICH candidates the Hamming scan shortlists. */
  def binaryThresholds(corpus: DataFrame, idCol: String, vecCol: String,
      dim: Int, sampleCap: Int = 1024): Array[Double] = {
    require(dim > 0, "dim must be positive")
    require(sampleCap > 0, "sampleCap must be positive")
    val sample = corpus
      .select(col(idCol).as("__id"),
        col(vecCol).cast("array<double>").as("__v"))
      .orderBy(md5(col("__id").cast("string").cast("binary")), col("__id"))
      .limit(sampleCap)
      .select("__v").collect().map(_.getSeq[Double](0).toArray)
    require(sample.nonEmpty, "empty corpus")
    sample.foreach(v => require(v.length == dim,
      s"expected $dim dims, saw ${v.length} (ragged vectors?)"))
    Array.tabulate(dim) { d =>
      val xs = sample.map(_(d)).sorted
      val n = xs.length
      if (n % 2 == 1) xs(n / 2)
      else { val lo = xs(n / 2 - 1); lo + (xs(n / 2) - lo) * 0.5 }
    }
  }

  /** Packed sign signature: bit b of word w set when
    * v[w·64+b] > thresholds(w·64+b). ⌈dim/64⌉ longs per row — the 32×
    * (vs float) compression that lets the shortlist stage scan
    * signatures instead of vectors. Expression-only. */
  def binarySignature(v: Column, thresholds: Array[Double]): Column = {
    val words = (thresholds.length + 63) / 64
    array((0 until words).map { w =>
      (0 until 64).filter(b => w * 64 + b < thresholds.length).map { b =>
        val j = w * 64 + b
        when(element_at(v, j + 1) > thresholds(j), lit(1L << b))
          .otherwise(lit(0L))
      }.reduce(_ bitwiseOR _)
    }: _*)
  }

  /** Hamming distance between two packed signatures: Σ popcount(xor). */
  def hamming(a: Column, b: Column): Column =
    aggregate(zip_with(a, b,
        (x, y) => bit_count(x.bitwiseXOR(y)).cast("long")),
      lit(0L), (acc, x) => acc + x)

  /** Binary-quantized ANN — the 1-bit-per-dimension rerank layout
    * modern vector stores ship: a Hamming-distance scan over packed
    * sign signatures shortlists `k·shortlistFactor` candidates per
    * probe (touching 1/32 of the float bytes), then the shortlist —
    * and ONLY the shortlist — re-attaches full vectors for the exact
    * cosine top-k. Signatures threshold on per-dim corpus medians
    * ([[binaryThresholds]]). A shortlistFactor covering the corpus
    * makes the result exactly [[knnBrute]]'s. */
  def knnBinary(probes: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, k: Int, shortlistFactor: Int = 4,
      dim: Int = 64): DataFrame = {
    require(k > 0 && shortlistFactor > 0,
      "k and shortlistFactor must be positive")
    val shuffleN = Sizing.parallelism(corpus, Sizing.CpuDenseFloorBytes)
    val med = binaryThresholds(corpus, idCol, vecCol, dim)
    // narrow signature frames: (id, sig) only — vectors re-attach after
    // the shortlist (the minhashLsh pattern)
    val cs = corpus.select(col(idCol).as("neighbor_id"),
        binarySignature(col(vecCol).cast("array<double>"), med).as("cs"))
      .repartition(shuffleN)
    val ps = probes.select(col(idCol).as("probe_id"),
      binarySignature(col(vecCol).cast("array<double>"), med).as("ps"))
    val shortN = k * shortlistFactor
    // Hamming scan → bounded shortlist (the knnPq discipline): no
    // per-probe corpus-wide window, no single-task gather — each
    // partial ranks only its own partition's candidates for a probe.
    val scored = broadcast(ps)
      .join(cs, col("probe_id") =!= col("neighbor_id"))
      .select(col("probe_id"), col("neighbor_id"),
        hamming(col("ps"), col("cs")).as("hamming"))
    val shortlist = topShortlist(scored, "hamming", shortN)
    // exact re-rank: vectors join the ids, not the scan — and the rank
    // is the one ranking idiom every ANN path shares ([[topByCosine]]:
    // bounded shortlist, never a per-probe row_number window
    // whose task would gather a probe's whole candidate set)
    val pv = probes.select(col(idCol).as("probe_id"),
      col(vecCol).cast("array<double>").as("pv"))
    val cv = corpus.select(col(idCol).as("neighbor_id"),
      col(vecCol).cast("array<double>").as("cv"))
    val reranked = shortlist
      .join(broadcast(pv), "probe_id")
      .join(cv, "neighbor_id")
      .withColumn("cosine", cosine(col("pv"), col("cv")))
    // hamming re-attaches per id to the ≤ k final rows (one cheap
    // signature scan) rather than riding through the rank — carrying a
    // payload would force the generic unbounded shortlist path
    topByCosine(reranked, k)
      .join(broadcast(ps), "probe_id")
      .join(cs, "neighbor_id")
      .select(col("probe_id"), col("neighbor_id"), col("cosine"),
        hamming(col("ps"), col("cs")).as("hamming"))
  }

  // -------------------------------------------------- hard negatives

  /** Hard-negative mining for contrastive training: per probe, the k
    * most-similar corpus rows whose LABEL differs — the near-boundary
    * examples a bi-encoder learns most from (dense-retrieval training
    * mines negatives from the top of an ANN ranking; random negatives
    * are too easy, same-label top hits are false negatives, so the
    * label filter runs BEFORE the shortlist, never consuming the k
    * slots on them). Exact brute-force scoring — [[knnBrute]]'s
    * broadcast-probe scan plus the cross-label predicate — reduced
    * through the same bounded shortlist; [[hardNegativesIvf]]
    * is the cell-pruned shape for corpus-scale probe sets.
    *
    * Output: probe_id, neighbor_id, probe_label, neighbor_label,
    * cosine. Labels re-attach by id AFTER the bounded rank (≤ k rows
    * per probe), so the shortlist state stays (score, id) pairs. */
  def hardNegatives(probes: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, labelCol: String, k: Int)
      : DataFrame =
    attachLabels(
      topByCosine(bruteScored(probes, corpus, idCol, vecCol,
        Some(labelCol)), k),
      probes, corpus, idCol, labelCol)

  /** [[hardNegatives]] through the IVF index: probes scan only their
    * `nprobe` nearest cells (candidates shrink n → ~n·nprobe/nlist),
    * cross-label filtering happens on the cell-join output, and the
    * rank rides the same bounded shortlist. `nprobe == nlist` scans
    * every cell and equals [[hardNegatives]] exactly (the knnIvf ≡
    * knnBrute argument); smaller nprobe trades recall for scan cost,
    * measured in SimilaritySpec. */
  def hardNegativesIvf(probes: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, labelCol: String, k: Int,
      nlist: Int = 16, nprobe: Int = 4): DataFrame =
    attachLabels(
      topByCosine(ivfScored(probes, corpus, idCol, vecCol,
        Some(labelCol), nlist, nprobe), k),
      probes, corpus, idCol, labelCol)

  private def attachLabels(ranked: DataFrame, probes: DataFrame,
      corpus: DataFrame, idCol: String, labelCol: String): DataFrame = {
    val pl = probes.select(col(idCol).as("probe_id"),
      col(labelCol).as("probe_label"))
    val nl = corpus.select(col(idCol).as("neighbor_id"),
      col(labelCol).as("neighbor_label"))
    ranked
      .join(broadcast(pl), "probe_id")
      .join(nl, "neighbor_id")
      .select(col("probe_id"), col("neighbor_id"),
        col("probe_label"), col("neighbor_label"), col("cosine"))
  }

  // ------------------------------------------------ k-center coreset

  /** Greedy k-center coreset selection (Gonzalez '85, the classic
    * 2-approximation): pick the min-id row as the seed, then k−1 times
    * pick the row FARTHEST (cosine distance, ties → smallest id) from
    * everything selected so far — the maximally-diverse subset, the
    * inverse of dedup's "drop what's close": facility-location-style
    * data selection keeps one exemplar per region of embedding space
    * and the greedy radius r_k certifies coverage (every corpus row is
    * within r_k of a kept center; OPT ≥ r_k/2).
    *
    * Plan shape at 100 TB: k passes, each O(n) — the per-row min
    * distance to the selected set is maintained INCREMENTALLY (one new
    * `least(mind, dist(v, newest))` per round, never re-scanning the
    * k selected), the round's winner is a distributed top-1
    * (`orderBy(...).limit(1)` = TakeOrdered — per-partition max then a
    * driver merge of #partitions candidates, no global sort), and each
    * round's (id, v, mind) frame persists while the previous round's
    * cache releases, so total distance work is O(n·k), not O(n·k²).
    * Selected centers live on the driver (k vectors — KBs), exactly
    * like the IVF centroid table.
    *
    * Contract: ids long-castable and unique; vectors non-null with
    * nonzero norm (a zero vector's cosine is pinned 0 ⇒ distance 1 —
    * [[cosine]]'s guard — but NaN components would poison the argmax).
    * Output: `sel_rank` (1-based selection order), the id, and
    * `radius` — the winner's distance to the prior selected set (the
    * covering radius sequence r_2 ≥ r_3 ≥ …; null for the seed). */
  def kCenter(corpus: DataFrame, idCol: String, vecCol: String, k: Int,
      maxK: Int = 1024): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    require(k >= 1, "k must be positive")
    require(k <= maxK,
      s"kCenter runs k driver-coordinated rounds; got k = $k > " +
        s"maxK = $maxK — raise maxK explicitly if intended")
    val base = corpus.select(col(idCol).cast("long").as("id"),
      col(vecCol).cast("array<double>").as("v"))
    def distTo(vec: Array[Double]): Column =
      lit(1.0) - cosine(col("v"), array(vec.map(lit): _*))
    // eager checkpoint per round (the connectedComponents discipline):
    // materializes AND cuts logical lineage — a persist chain would
    // nest one withColumn layer per round and pay O(r) re-analysis on
    // every round-r action (O(k²) driver time toward maxK). Reliable
    // checkpoints when a checkpoint dir is configured (survive
    // executor loss on a preemptible cluster), executor-local
    // otherwise.
    val sc = spark.sparkContext
    def snap(d: DataFrame): DataFrame =
      if (sc.getCheckpointDir.isDefined) d.checkpoint(eager = true)
      else d.localCheckpoint(true)
    val seed = base.orderBy(col("id")).limit(1)
      .select(col("id"), col("v")).collect()
    require(seed.nonEmpty, "empty corpus")
    val seedId = seed.head.getLong(0)
    val picks = scala.collection.mutable.ArrayBuffer(
      (1L, seedId, Option.empty[Double]))
    var cur = snap(base
      .withColumn("mind", distTo(seed.head.getSeq[Double](1).toArray)))
    var selected = Set(seedId)
    try {
      var r = 2
      while (r <= k) {
        val win = cur.filter(!col("id").isInCollection(selected))
          .orderBy(desc("mind"), col("id")).limit(1)
          .select(col("id"), col("mind"), col("v")).collect()
        if (win.isEmpty) { r = k + 1 } // fewer distinct rows than k
        else {
          val w = win.head
          picks += ((r.toLong, w.getLong(0), Some(w.getDouble(1))))
          selected += w.getLong(0)
          val next = snap(cur.withColumn("mind",
            least(col("mind"), distTo(w.getSeq[Double](2).toArray))))
          // release the previous round's snapshot explicitly — `next`
          // was its last reader
          Dedup.checkpointRdd(cur).foreach(_.unpersist(blocking = false))
          cur = next
          r += 1
        }
      }
    } finally Dedup.checkpointRdd(cur).foreach(_.unpersist(blocking = false))
    picks.toSeq.toDF("sel_rank", "id", "radius")
      .select(col("sel_rank"), col("id").as("center_id"), col("radius"))
  }
}
