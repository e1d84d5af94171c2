package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Similarity search over embedding columns (`Array[Float]`).
  *
  * Two tiers:
  *  - [[knnBrute]]: exact top-k — broadcast the (small) query set, score the
  *    corpus in one scan, per-query top-k via a partitioned window. The
  *    baseline and the verifier for the approximate path.
  *  - [[lshKnn]]: random-hyperplane LSH — corpus bucketed by signature
  *    (computed once, storable), queries probe their bucket ± multiprobe
  *    flips; only candidates are scored. The 100 TB path: shuffle is keyed on
  *    signature buckets, never all-pairs.
  *
  * Dot products accumulate as a sequential left fold in doubles, so the
  * oracle (DuckDB `list_dot_product` on DOUBLE[]) computes bit-identical
  * sums. The fold runs in a compact `Array[Float]` UDF: the Catalyst
  * higher-order-function forms ([[dotHof]]/[[normHof]]) are CodegenFallback —
  * interpreted per element, measured ~20× slower on this exact path — so the
  * JVM loop wins despite UDF boxing; tests assert both forms agree bitwise.
  */
object Similarity {

  /** HOF reference form of the dot product (CodegenFallback — do not use on
    * hot paths; kept as the executable spec the UDF is tested against). */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)

  /** HOF reference form of the L2 norm (see [[dotHof]]). */
  def normHof(a: Column): Column =
    sqrt(aggregate(transform(a, x => x * x), lit(0.0), (acc, v) => acc + v))

  /** HOF reference form of cosine (see [[dotHof]]). */
  def cosineHof(a: Column, b: Column): Column = {
    val ad = transform(a, _.cast("double"))
    val bd = transform(b, _.cast("double"))
    dotHof(ad, bd) / (normHof(ad) * normHof(bd))
  }

  /** Cosine similarity of two float-array columns — the native codegen
    * expression [[graft.functions.CosineSim]]: one sequential pass (dot,
    * |a|², |b|² accumulated left-to-right in doubles exactly like the HOF
    * fold and DuckDB's `list_dot_product`), inside whole-stage codegen. */
  def cosine(a: Column, b: Column): Column =
    graft.functions.CosineSim.cosine_sim(a, b)

  /** Exact top-k cosine neighbors for each query vector.
    *
    * `queries` (qid, qvec) is expected to be small → broadcast; `corpus`
    * (id, vec) is scanned once. Top-k per query via window partitioned by
    * qid — parallel across queries, no global sort. Self-matches excluded
    * when `excludeSelf`.
    */
  def knnBrute(corpus: DataFrame, queries: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      qidCol: String = "qid", qvecCol: String = "qvec",
      excludeSelf: Boolean = true): DataFrame =
    rankTopK(corpus.crossJoin(broadcast(queries)), k, idCol, qidCol,
      excludeSelf, cosine(col(qvecCol), col(vecCol)))

  /** Deterministic pseudo-random hyperplane component for (plane, dim):
    * hash-derived value in [-0.5, 0.5). Seeded — stable across runs and
    * engines with no RNG state to ship. Public so verification harnesses
    * can embed the exact plane matrix as SQL literals (every component is a
    * dyadic rational k/2^24 - 1/2, so decimal text round-trips exactly).
    */
  def planeComponent(plane: Int, dim: Int, seed: Int): Double = {
    val h = scala.util.hashing.MurmurHash3.productHash((plane, dim, seed))
    (h & 0xffffff).toDouble / 0x1000000.toDouble - 0.5
  }

  /** Random-hyperplane signature: bit p = sign(vec · plane_p). Returns an
    * int bucket (numPlanes <= 30). Computed in the scan stage (narrow map);
    * for a stored corpus this would be precomputed at write time. The plane
    * matrix is hash-derived on the driver and shipped in the UDF closure —
    * the per-plane projections fold left-to-right like the HOF form did.
    */
  def rhpSignature(vec: Column, dims: Int, numPlanes: Int, seed: Int): Column = {
    // an Int signature: planes past bit 31 would alias via JVM shift
    // wrap (1 << 32 == 1) and silently corrupt buckets; 30 leaves the
    // sign bit alone and matches the documented bound
    require(numPlanes >= 1 && numPlanes <= 30,
      s"numPlanes must be in [1, 30]: $numPlanes")
    val planes: Array[Array[Double]] =
      Array.tabulate(numPlanes, dims)((p, d) => planeComponent(p, d, seed))
    val f = udf((v: Array[Float]) => {
      // a wrong-length vector must not bucket by a truncated-prefix
      // projection (the CosineSim posture: corrupt vectors are data,
      // and they rank nowhere — a null signature joins no bucket)
      if (v == null || v.length != dims) null.asInstanceOf[java.lang.Integer]
      else {
        var sig = 0
        var p = 0
        while (p < planes.length) {
          val comps = planes(p)
          var proj = 0.0
          var i = 0
          while (i < dims) { proj += v(i).toDouble * comps(i); i += 1 }
          if (proj >= 0) sig |= (1 << p)
          p += 1
        }
        java.lang.Integer.valueOf(sig)
      }
    })
    f(vec)
  }

  /** Approximate top-k: bucket corpus and queries by RHP signature, probe the
    * exact bucket plus all 1-bit-flip neighbors (multiprobe), score only
    * candidates. `numTables` independent hash tables (OR-construction,
    * distinct plane sets per table) trade compute for recall — the standard
    * scale lever when one table's buckets miss: P(miss) decays
    * exponentially in tables. Recall verified against [[knnBrute]] in tests
    * and pinned by the `knn_lsh_recall` driver gate.
    */
  def lshKnn(corpus: DataFrame, queries: DataFrame, k: Int, dims: Int,
      numPlanes: Int = 8, seed: Int = 42, numTables: Int = 1,
      idCol: String = "vec_id", vecCol: String = "embedding",
      qidCol: String = "qid", qvecCol: String = "qvec",
      excludeSelf: Boolean = true): DataFrame = {
    require(numTables >= 1, "numTables must be >= 1")
    def tableSeed(t: Int) = seed + 7919 * t // distinct planes per table
    val corpusSigs = (0 until numTables).map { tbl =>
      struct(lit(tbl).as("tbl"),
        rhpSignature(col(vecCol), dims, numPlanes, tableSeed(tbl)).as("sig"))
    }
    val bucketedCorpus = corpus
      .withColumn("__ts", explode(array(corpusSigs: _*)))
      .select(col(idCol), col(vecCol),
        col("__ts.tbl").as("__tbl"), col("__ts.sig").as("__sig"))
    val qProbes = (0 until numTables).flatMap { tbl =>
      val sig0 = rhpSignature(col(qvecCol), dims, numPlanes, tableSeed(tbl))
      (sig0 +: (0 until numPlanes).map(p => sig0.bitwiseXOR(lit(1 << p))))
        .map(sg => struct(lit(tbl).as("tbl"), sg.as("sig")))
    }
    val qProbed = queries.select(col(qidCol), col(qvecCol),
        explode(array(qProbes: _*)).as("__p"))
      .select(col(qidCol), col(qvecCol),
        col("__p.tbl").as("__tbl"), col("__p.sig").as("__sig"))
    val joined = bucketedCorpus.join(broadcast(qProbed), Seq("__tbl", "__sig"))
      .select(col(qidCol), col(qvecCol), col(idCol), col(vecCol))
    // one table cannot produce duplicate (qid, id) pairs — each corpus
    // row holds one signature and the probe signatures are pairwise
    // distinct — so the dedup shuffle (which carries BOTH float vectors)
    // only runs for the multi-table OR-construction
    val cands = if (numTables > 1) joined.distinct() else joined
    rankTopK(cands, k, idCol, qidCol, excludeSelf,
      cosine(col(qvecCol), col(vecCol)))
  }

  /** IVF-style coarse quantization: assign every corpus vector to its nearest
    * of `centroids` (id, cvec) — the partitioning step of an IVF index; at
    * scale the assignment becomes the storage partition key so probes read
    * only `nprobe` partitions.
    */
  /** THE broadcast-centroid ranked-cosine scan shared by [[ivfAssign]],
    * [[embeddingOutliers]] and the probe-cell resolver — one
    * implementation so the degenerate-cosine filter and the tie-break
    * cannot silently diverge across the three. Degenerate cosines drop
    * BEFORE the rank: NaN (the HOF cosine path) sorts FIRST under desc
    * and would capture every row into one degenerate cell; NULL
    * ([[graft.functions.CosineSim]] on zero-norm/dim-mismatch) sorts
    * last but could still be ranked when `keep` exceeds the comparable
    * cells. Keeps the `keep` best (cos desc, cid asc) centroids per row;
    * emits the input columns plus (cid, cos). */
  private def rankedCentroidScan(rows: DataFrame, centroids: DataFrame,
      rowKey: String, vec: String, cidCol: String, cvecCol: String,
      keep: Int): DataFrame = {
    val scored = rows.crossJoin(broadcast(centroids))
      .withColumn("cos", cosine(col(cvecCol), col(vec)))
      .filter(col("cos").isNotNull && !isnan(col("cos")))
    val w = Window.partitionBy(rowKey)
      .orderBy(col("cos").desc, col(cidCol).asc)
    scored.withColumn("__r", row_number().over(w)).filter(col("__r") <= keep)
  }

  def ivfAssign(corpus: DataFrame, centroids: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding",
      cidCol: String = "cid", cvecCol: String = "cvec"): DataFrame =
    rankedCentroidScan(corpus, centroids, idCol, vecCol, cidCol, cvecCol,
      keep = 1)
      .select(col(idCol), col(vecCol), col(cidCol))

  /** Embedding-quality outlier filter: vectors whose best cosine to ANY
    * centroid falls below `threshold` — the off-manifold rows (corrupt
    * encodes, wrong-modality junk, garbage embeddings) that pollute ANN
    * cells and SemDeDup clusters if admitted. Same broadcast-centroid
    * argmax scan as [[ivfAssign]], keeping the winning cosine; emits
    * (id, nearest cid, cos) per outlier. One corpus scan, k×dims
    * broadcast, per-id window over k rows — nothing corpus², no extra
    * shuffle beyond the per-id argmax.
    */
  def embeddingOutliers(corpus: DataFrame, centroids: DataFrame,
      threshold: Double, idCol: String = "vec_id",
      vecCol: String = "embedding", cidCol: String = "cid",
      cvecCol: String = "cvec"): DataFrame =
    // the shared scan's degenerate-cosine filter is load-bearing here:
    // the streaming twin skips degenerate vectors too, keeping the
    // documented drained-stream == batch equality on them
    rankedCentroidScan(corpus, centroids, idCol, vecCol, cidCol, cvecCol,
      keep = 1)
      .filter(col("cos") < threshold)
      .select(col(idCol), col(cidCol), col("cos"))

  /** Exact per-label centroid SUMS: element-wise fixed-point sums + counts
    * per (label, dimension) — callers divide `sum_q / 2^40 / n` for the
    * mean. Elements quantize by `floor(v * 2^40)`: the power-of-two scale
    * is EXACT double arithmetic (mantissa shift, no rounding) and floor is
    * engine-identical, so the integer sum is associative-commutative-exact
    * and independent of partitioning/merge order — a float/double sum
    * would drift with shuffle order, and even decimal casts of floats
    * round-tie differently across engines. Worst-case quantization error
    * per element is 2^-40 ≈ 9e-13. posexplode fans each vector into dim
    * rows that partial-aggregate map-side before one (label, pos) shuffle
    * of k×dims accumulator rows — vectors never move whole, the driver
    * sees nothing. The accumulator is decimal(38,0) — a 2^40-scaled
    * element times any realistic row count stays far inside 38 digits —
    * and the BIGINT output column carries an in-plan guard: a sum past
    * Long range (n·|v| > 2^23, e.g. >8.4M unit-norm rows in one label)
    * FAILS LOUDLY telling the caller to shard the label, instead of the
    * silent wrap a long accumulator would produce.
    */
  def labelCentroidSums(df: DataFrame, labelCol: String,
      vecCol: String = "embedding"): DataFrame = {
    val lmax = BigDecimal(Long.MaxValue)
    df.select(col(labelCol), posexplode(col(vecCol)))
      .select(col(labelCol), (col("pos") + 1).cast("long").as("pos"),
        floor(col("col").cast("double") * lit(1099511627776.0))
          .cast("decimal(38,0)").as("__q"))
      .groupBy(labelCol, "pos")
      .agg(sum("__q").as("__sq"), count(lit(1)).as("n"))
      .withColumn("sum_q", when(assert_true(
          col("__sq").between(lit(-lmax), lit(lmax)),
          lit("labelCentroidSums: a label's quantized sum exceeds BIGINT " +
            "range — shard the label or reduce the quantization scale"))
        .isNull, col("__sq").cast("long")))
      .select(col(labelCol), col("pos"), col("sum_q"), col("n"))
  }

  /** Distributed k-means (Lloyd) for IVF centroid training: seeded
    * deterministic init (first `k` corpus vectors by id), then `iters`
    * rounds of assign (broadcast centroids, one corpus scan) + recompute
    * (per-dimension mean via posexplode → one (cid, dim)-keyed shuffle —
    * never collects vectors to the driver; only the k×dims centroid matrix
    * moves). Cosine-space: means are re-used directly (IVF probes rank by
    * cosine, so un-normalized means suffice as cell representatives).
    */
  def kmeans(corpus: DataFrame, k: Int, iters: Int = 3,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    var cents = corpus.orderBy(col(idCol)).limit(k)
      .select(col(idCol).as("cid"), col(vecCol).as("cvec"))
    var i = 0
    while (i < iters) {
      val assigned = ivfAssign(corpus, cents, idCol, vecCol)
      val means = assigned
        .select(col("cid"), posexplode(col(vecCol)).as(Seq("__dim", "__x")))
        .groupBy("cid", "__dim").agg(avg(col("__x").cast("double")).as("__m"))
        .groupBy("cid")
        .agg(array_sort(collect_list(struct(col("__dim"), col("__m"))))
          .as("__pairs"))
        .select(col("cid"),
          transform(col("__pairs"), p => p.getField("__m").cast("float"))
            .as("cvec"))
      // a cell that received no vectors this round keeps its previous
      // centroid — groupBy only emits assigned cids, and dropping the
      // empty cell would silently shrink k below what the caller asked
      // for (breaking IVF's nprobe/k pruning ratio and semDedup's
      // cell-size bound; the pqTrain Lloyd loop keeps empty cells for
      // the same reason). localCheckpoint truncates the growing lineage
      // across iterations
      cents = cents.select(col("cid"), col("cvec").as("__prev"))
        .join(means.withColumnRenamed("cvec", "__new"), Seq("cid"), "left")
        .select(col("cid"), coalesce(col("__new"), col("__prev")).as("cvec"))
        .localCheckpoint()
      i += 1
    }
    cents
  }

  /** IVF probe: top-k per query scoring only vectors whose cell is among
    * the query's `nprobe` nearest centroids — the classic two-level ANN.
    * `assigned` is [[ivfAssign]] output (id, vec, cid); at scale use
    * [[writeIvf]] + [[ivfKnnStored]], which make the cell the storage
    * partition key and prune the scan to the probed cells.
    */
  def ivfKnn(assigned: DataFrame, centroids: DataFrame, queries: DataFrame,
      k: Int, nprobe: Int = 2,
      idCol: String = "vec_id", vecCol: String = "embedding",
      cidCol: String = "cid", cvecCol: String = "cvec",
      qidCol: String = "qid", qvecCol: String = "qvec",
      excludeSelf: Boolean = true): DataFrame = {
    val qCells = probeCells(centroids, queries, nprobe, cidCol, cvecCol,
      qidCol, qvecCol)
    val cands = assigned.join(broadcast(qCells), Seq(cidCol))
    rankTopK(cands, k, idCol, qidCol, excludeSelf,
      cosine(col(qvecCol), col(vecCol)))
  }

  // ---- product quantization (PQ) ----------------------------------------

  /** Train PQ codebooks: split the space into `m` subspaces and Lloyd-
    * cluster each to `k` centroids — on a deterministic SAMPLE, driver-
    * side. That is the honest cluster shape, not a shortcut: PQ codebooks
    * are universally trained on a corpus sample (m·k·subdim floats of
    * state, seconds of CPU) while ENCODING — the data-sized work — stays
    * distributed ([[pqEncode]]). Returns `[sub][cid][subdim]` arrays.
    */
  def pqTrain(corpus: DataFrame, m: Int, k: Int, iters: Int = 10,
      sampleN: Int = 2000, idCol: String = "vec_id",
      vecCol: String = "embedding"): Array[Array[Array[Float]]] = {
    val sampled = corpus.orderBy(col(idCol)).limit(sampleN)
      .select(col(vecCol)).collect()
      .map(r => if (r.isNullAt(0)) null else r.getSeq[Float](0).toArray)
    // the corpus dimensionality is the MAJORITY sample length — a
    // corrupt short vector that happens to sort first must not define
    // the dims every real vector then fails
    val lens = sampled.collect { case v if v != null => v.length }
    val dims0 =
      if (lens.isEmpty) 0
      else lens.groupBy(identity).maxBy { case (l, g) => (g.length, -l) }._1
    // corrupt vectors are data, not errors (the module posture): null or
    // wrong-length sample rows are SKIPPED — training codebooks on
    // zero-padded fabricated values would bias every subspace toward 0,
    // and pqEncode already handles the same rows gracefully (null codes)
    val sample = sampled.filter(v => v != null && v.length == dims0)
    require(sample.nonEmpty, "pqTrain needs a non-empty corpus")
    val dims = dims0
    require(dims % m == 0, s"dims=$dims must divide into m=$m subspaces")
    val sd = dims / m
    (0 until m).toArray.map { s =>
      val sub = sample.map(v => java.util.Arrays.copyOfRange(v, s * sd, (s + 1) * sd))
      // deterministic init: first k distinct subvectors
      val init = scala.collection.mutable.ArrayBuffer.empty[Array[Float]]
      val seen = scala.collection.mutable.HashSet.empty[Seq[Float]]
      for (v <- sub)
        if (init.length < k && seen.add(v.toSeq)) init += v
      var cents = init.toArray
      var it = 0
      while (it < iters) {
        val sums = Array.fill(cents.length, sd)(0.0)
        val cnts = new Array[Long](cents.length)
        for (v <- sub) {
          val c = nearestL2(v, cents)
          cnts(c) += 1
          var j = 0
          while (j < sd) { sums(c)(j) += v(j); j += 1 }
        }
        cents = cents.indices.toArray.map { c =>
          if (cnts(c) == 0) cents(c) // empty cell keeps its centroid
          else sums(c).map(x => (x / cnts(c)).toFloat)
        }
        it += 1
      }
      cents
    }
  }

  private def nearestL2(v: Array[Float], cents: Array[Array[Float]]): Int = {
    var best = 0; var bestD = Double.MaxValue; var c = 0
    while (c < cents.length) {
      var d = 0.0; var j = 0
      while (j < v.length) {
        val t = v(j).toDouble - cents(c)(j); d += t * t; j += 1
      }
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  /** Encode the corpus against trained codebooks: one UDF pass emits the
    * `m` single-BYTE codes (`array<tinyint>` at rest; L2-argmin per
    * subspace) plus the reconstructed norm. Centroid index `c ∈ [0, 256)`
    * is OFFSET-ENCODED as `(c - 128).toByte` so the full standard
    * 256-centroid codebook fits the signed byte at the same storage cost
    * ([[adcRank]] adds the 128 back before the table lookup). The code
    * column is `dims·4/m`× smaller than the float vector (64× for 64-dim
    * m=4); the full row, with the 8-byte norm, lands ~20×. Null or
    * wrong-dimension vectors encode to a null code row (corrupt vectors
    * are data, not errors — [[decodeImages]]' posture); [[pqKnn]] skips
    * them. Distributed over the corpus; the codebooks ride the closure
    * (m·k·subdim floats, broadcast-sized).
    */
  def pqEncode(corpus: DataFrame, codebooks: Array[Array[Array[Float]]],
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val m = codebooks.length
    val sd = codebooks(0)(0).length
    require(codebooks.forall(_.length <= 256),
      "PQ codes are stored as offset-encoded bytes — " +
        "use k <= 256 centroids per subspace")
    val enc = udf((vec: Seq[Float]) => {
      if (vec == null || vec.length != m * sd) null
      else {
        val v = vec.toArray
        val codes = new Array[Byte](m)
        var rn2 = 0.0
        var s = 0
        while (s < m) {
          val sub = java.util.Arrays.copyOfRange(v, s * sd, (s + 1) * sd)
          val c = nearestL2(sub, codebooks(s))
          codes(s) = (c - 128).toByte
          val cv = codebooks(s)(c)
          var j = 0
          while (j < sd) { rn2 += cv(j).toDouble * cv(j); j += 1 }
          s += 1
        }
        (codes.toSeq, math.sqrt(rn2))
      }
    })
    corpus.select(col(idCol), enc(col(vecCol)).as("__e"))
      .select(col(idCol), col("__e._1").as("codes"), col("__e._2").as("rnorm"))
  }

  /** ADC (asymmetric distance computation) top-k: per query, the
    * `m × k` dot-product table is precomputed ONCE (the query set is
    * small/broadcast by definition — the same posture as [[knnBrute]]'s
    * query fan-out), so scoring an encoded vector is `m` table lookups
    * instead of a `dims`-length dot — the PQ fast path. Ranking metric is
    * the approximate cosine `table-dot / rnorm` (the query's own norm is
    * constant per query and cannot reorder its ranking).
    */
  def pqKnn(encoded: DataFrame, codebooks: Array[Array[Array[Float]]],
      queries: DataFrame, k: Int, idCol: String = "vec_id",
      qidCol: String = "qid", qvecCol: String = "qvec",
      excludeSelf: Boolean = true): DataFrame = {
    val qids = queries.select(col(qidCol))
    adcRank(encoded.crossJoin(broadcast(qids)), codebooks, queries, k,
      idCol, qidCol, qvecCol, excludeSelf)
  }

  /** IVF-PQ — the standard large-scale ANN pairing: IVF cells prune the
    * candidate set (only `nprobe` cells' vectors are touched), PQ codes
    * make scoring those candidates `m` table lookups over `m`-byte rows.
    * `assignedEnc` carries (id, cid, codes, rnorm) — [[ivfAssign]] joined
    * with [[pqEncode]]; at rest, partition it by `cid` like [[writeIvf]]
    * and the probe prunes at file-listing time over rows 64× smaller
    * than the float corpus.
    */
  def ivfPqKnn(assignedEnc: DataFrame, centroids: DataFrame,
      codebooks: Array[Array[Array[Float]]], queries: DataFrame, k: Int,
      nprobe: Int = 2, idCol: String = "vec_id", cidCol: String = "cid",
      cvecCol: String = "cvec", qidCol: String = "qid",
      qvecCol: String = "qvec", excludeSelf: Boolean = true): DataFrame = {
    val qCells = probeCells(centroids, queries, nprobe, cidCol, cvecCol,
      qidCol, qvecCol)
    adcRank(assignedEnc.join(broadcast(qCells), Seq(cidCol)), codebooks,
      queries, k, idCol, qidCol, qvecCol, excludeSelf)
  }

  /** IVF-PQ probed AT REST: the encoded corpus persisted with `cid` as
    * the storage partition key ([[writeIvf]] on the joined
    * [[pqEncode]]+[[ivfAssign]] frame). The probe resolves its cells
    * once, statically filters the scan to those cell directories
    * (PartitionFilters at file-listing time — over rows carrying m code
    * bytes instead of the float vector), and ADC-ranks the survivors.
    */
  def ivfPqKnnStored(spark: org.apache.spark.sql.SparkSession, path: String,
      centroids: DataFrame, codebooks: Array[Array[Array[Float]]],
      queries: DataFrame, k: Int, nprobe: Int = 2,
      idCol: String = "vec_id", cidCol: String = "cid",
      cvecCol: String = "cvec", qidCol: String = "qid",
      qvecCol: String = "qvec", excludeSelf: Boolean = true): DataFrame = {
    val (qCells, pruned) = storedProbeScan(spark, path, centroids, queries,
      nprobe, cidCol, cvecCol, qidCol, qvecCol)
    adcRank(pruned.join(broadcast(qCells), Seq(cidCol)), codebooks, queries,
      k, idCol, qidCol, qvecCol, excludeSelf)
  }

  /** Shared resolve-cells-once scaffolding of the stored probes
    * ([[ivfKnnStored]], [[ivfPqKnnStored]]): heal a crashed compaction
    * swap, resolve the probe cells in ONE job (the collected rows feed
    * both the static partition filter and, as a local relation, the
    * broadcast join), and return (qid↔cid cells, cell-pruned scan).
    */
  private def storedProbeScan(spark: org.apache.spark.sql.SparkSession,
      path: String, centroids: DataFrame, queries: DataFrame, nprobe: Int,
      cidCol: String, cvecCol: String, qidCol: String, qvecCol: String)
      : (DataFrame, DataFrame) = {
    val livePath = new org.apache.hadoop.fs.Path(path)
    recoverCompact(
      livePath.getFileSystem(spark.sessionState.newHadoopConf()), livePath)
    val qCellsPlan = probeCells(centroids, queries, nprobe, cidCol, cvecCol,
      qidCol, qvecCol)
    val qRows = qCellsPlan.collect() // nprobe × |queries| rows — metadata
    val qCells = spark.createDataFrame(
      java.util.Arrays.asList(qRows: _*), qCellsPlan.schema)
    val cellIds: Array[Any] = qRows.map(_.getAs[Any](cidCol)).distinct
    val pruned = spark.read.parquet(path)
      .filter(col(cidCol).isin(cellIds.toIndexedSeq: _*))
    (qCells, pruned)
  }

  /** Shared ADC scorer: per-query `m × k` dot tables precomputed once
    * (the query set is small/broadcast by definition — [[knnBrute]]'s
    * posture), so scoring a candidate row is `m` lookups. `cands` must
    * carry (`qidCol`, `codes`, `rnorm`, `idCol`). Ranking metric is the
    * approximate cosine `table-dot / rnorm` (the query's own norm is
    * constant per query and cannot reorder its ranking).
    */
  private def adcRank(cands: DataFrame,
      codebooks: Array[Array[Array[Float]]], queries: DataFrame, k: Int,
      idCol: String, qidCol: String, qvecCol: String,
      excludeSelf: Boolean): DataFrame = {
    val m = codebooks.length
    val sd = codebooks(0)(0).length
    // the ADC score UDF reads the qid as a Long (its broadcast table is
    // keyed on it) — any other id type must fail HERE, not as per-row
    // ClassCastExceptions inside the driver map
    require(queries.schema(queries.schema.fieldIndex(qidCol)).dataType ==
        org.apache.spark.sql.types.LongType,
      s"PQ ranking needs a LongType query id; $qidCol is " +
        queries.schema(queries.schema.fieldIndex(qidCol))
          .dataType.simpleString)
    val qRows = queries.select(col(qidCol), col(qvecCol)).collect()
    val tables: Map[Long, Array[Array[Double]]] = qRows.map { r =>
      val qid = r.getLong(0)
      val q = r.getSeq[Float](1).toArray
      // per-subspace table width: pqTrain's distinct-subvector init can
      // train DIFFERENT centroid counts per subspace — sizing every
      // table by subspace 0's count would crash on ragged codebooks
      val t = codebooks.map(cb => new Array[Double](cb.length))
      var s = 0
      while (s < m) {
        var c = 0
        while (c < codebooks(s).length) {
          var d = 0.0; var j = 0
          while (j < sd) { d += q(s * sd + j).toDouble * codebooks(s)(c)(j); j += 1 }
          t(s)(c) = d; c += 1
        }
        s += 1
      }
      qid -> t
    }.toMap
    val score = udf((qid: Long, codes: Seq[Byte], rnorm: Double) => {
      val t = tables(qid)
      var d = 0.0; var s = 0
      // codes are offset-encoded (pqEncode stores c - 128)
      while (s < m) { d += t(s)(codes(s).toInt + 128); s += 1 }
      if (rnorm == 0.0) Double.NegativeInfinity else d / rnorm
    })
    val w = Window.partitionBy(qidCol)
      .orderBy(col("__sc").desc, col(idCol).asc)
    val scored = cands
      .filter(col("codes").isNotNull) // undecodable vectors carry no codes
      .withColumn("__sc", score(col(qidCol), col("codes"), col("rnorm")))
    (if (excludeSelf) scored.filter(col(qidCol) =!= col(idCol)) else scored)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(qidCol), col("rank"), col(idCol), col("__sc").as("score"))
  }

  /** SemDeDup-style semantic deduplication (Abbas et al., "SemDeDup: Data-
    * efficient learning at web-scale through semantic deduplication",
    * arXiv:2303.09540): k-means-cluster the embedding space, then emit
    * within-cluster pairs whose cosine clears `tau` — semantically
    * near-identical documents that survive text-level dedup (paraphrases,
    * re-encodes, translations of boilerplate). Keep-one policy: drop every
    * id appearing as the larger member of a pair ([[semDeduped]]).
    *
    * Scale shape: the cluster plays the LSH-bucket role — pairs are only
    * scored within a cell, so the self-join shuffles on `cid` and costs
    * sum(cell²), never corpus². k grows with the corpus (SemDeDup uses
    * ~√n clusters) to hold cells at a bounded size; cells are independent,
    * so the verify stage parallelizes across them. Identical join children
    * → ReuseExchange runs the kmeans assignment once, not per side.
    */
  def semDedupPairs(corpus: DataFrame, k: Int, iters: Int, tau: Double,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val cents = kmeans(corpus, k, iters, idCol, vecCol)
    val assigned = ivfAssign(corpus, cents, idCol, vecCol)
    assigned.alias("l").join(assigned.alias("r"), col("l.cid") === col("r.cid"))
      .filter(col(s"l.$idCol") < col(s"r.$idCol"))
      .select(col(s"l.$idCol").as("id1"), col(s"r.$idCol").as("id2"),
        cosine(col(s"l.$vecCol"), col(s"r.$vecCol")).as("cos"))
      .filter(col("cos") >= tau)
  }

  /** Rows surviving [[semDedupPairs]] under keep-the-smaller-id. */
  def semDeduped(corpus: DataFrame, k: Int, iters: Int, tau: Double,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val drops = semDedupPairs(corpus, k, iters, tau, idCol, vecCol)
      .select(col("id2").as(idCol)).distinct()
    corpus.join(drops, Seq(idCol), "left_anti")
  }

  /** Persist an [[ivfAssign]]ed corpus with the cell id as the storage
    * partition key — the IVF index at rest. Each cell is a directory, so a
    * probe filtering on `cid` prunes at file-listing time (PartitionFilters)
    * and reads only `nprobe`/k of the data.
    */
  def writeIvf(assigned: DataFrame, path: String,
      cidCol: String = "cid"): Unit =
    assigned.write.mode("overwrite").partitionBy(cidCol).parquet(path)

  /** Compact an IVF index directory in place: streaming appends
    * ([[graft.streaming.StreamIngest.ivfIngest]]) accumulate one small
    * file per (cell, micro-batch), and file-listing cost eventually drags
    * probe latency — the same small-files story as the metrics store's
    * blocks. One cid-keyed shuffle rewrites every cell to a single file,
    * then a two-rename swap (live → .old, .tmp → live) publishes the
    * compacted tree atomically-enough that a crash leaves a complete copy
    * under one of the names; readers re-list on next access.
    */
  def compactIvf(spark: org.apache.spark.sql.SparkSession, path: String,
      cidCol: String = "cid", idCol: String = "vec_id"): Unit = {
    val live = new org.apache.hadoop.fs.Path(path)
    val fs = live.getFileSystem(spark.sessionState.newHadoopConf())
    recoverCompact(fs, live) // heal a crash between a prior swap's renames
    graft.storage.AtomicDir.compactPublish(spark, path, "compactIvf") { tmp =>
      // dropDuplicates doubles as the ingest repair: foreachBatch appends
      // are at-least-once (a crash between a batch's files landing and its
      // checkpoint commit replays the batch), so compaction is where any
      // replayed vectors collapse back to one row
      spark.read.parquet(path)
        .dropDuplicates(idCol)
        .repartition(col(cidCol))
        .write.mode("overwrite").partitionBy(cidCol).parquet(tmp)
    }
  }

  /** Crash recovery for [[compactIvf]]'s swap window: a kill between
    * `live → old` and `tmp → live` leaves the only complete copy at
    * `.compact-old` — promote it back. Called by [[compactIvf]] and
    * [[ivfKnnStored]] so the next access self-heals. */
  private[graft] def recoverCompact(fs: org.apache.hadoop.fs.FileSystem,
      live: org.apache.hadoop.fs.Path): Unit = {
    val old = new org.apache.hadoop.fs.Path(live.toString + ".compact-old")
    if (!fs.exists(live) && fs.exists(old) && !fs.rename(old, live)
        // two readers can race to heal the same crashed swap: the
        // loser's rename fails AFTER the winner restored the tree —
        // re-check before declaring the (now healthy) store broken
        && !fs.exists(live))
      throw new java.io.IOException(s"compactIvf recovery: cannot restore $old")
  }

  /** IVF probe against a [[writeIvf]]-stored corpus. The query set's probe
    * cells are resolved first and applied as a static `isin` partition
    * filter — the scan lists only those cell directories. The collected
    * cell-id set is index metadata, <= nQueries × nprobe values by
    * construction (both small by the IVF serving contract), not data.
    */
  def ivfKnnStored(spark: org.apache.spark.sql.SparkSession, path: String,
      centroids: DataFrame, queries: DataFrame, k: Int, nprobe: Int = 2,
      idCol: String = "vec_id", vecCol: String = "embedding",
      cidCol: String = "cid", cvecCol: String = "cvec",
      qidCol: String = "qid", qvecCol: String = "qvec",
      excludeSelf: Boolean = true): DataFrame = {
    val (qCells, assigned) = storedProbeScan(spark, path, centroids,
      queries, nprobe, cidCol, cvecCol, qidCol, qvecCol)
    val cands = assigned.join(broadcast(qCells), Seq(cidCol))
    rankTopK(cands, k, idCol, qidCol, excludeSelf,
      cosine(col(qvecCol), col(vecCol)))
  }

  /** Each query's `nprobe` nearest cells: (qid, qvec, cid). */
  private def probeCells(centroids: DataFrame, queries: DataFrame,
      nprobe: Int, cidCol: String, cvecCol: String,
      qidCol: String, qvecCol: String): DataFrame =
    rankedCentroidScan(queries, centroids, qidCol, qvecCol, cidCol,
      cvecCol, keep = nprobe)
      .select(col(qidCol), col(qvecCol), col(cidCol))

  /** Per-vector symmetric int8 quantization of a float-array embedding:
    * q_i = clamp(floor(x_i · 127 / maxAbs + 0.5), -127, 127), stored with
    * the vector's `max_abs` (scale = max_abs / 127). 4× smaller at rest
    * than float32 — at corpus scale the quantized column is the one that
    * gets scanned; cosine ranking is scale-invariant, so quantized dot
    * products rank without dequantizing. Every step is exact double
    * arithmetic (floor, not round), so an SQL oracle reproduces the bytes;
    * `max_abs` is emitted raw (a float-derived double, bit-exact) rather
    * than the divided scale, which would round differently per engine.
    * Returns struct(q: array<tinyint>, max_abs: double); null vector →
    * null, zero vector → zeros with max_abs 0.
    */
  def quantizeInt8(vec: Column): Column = {
    val f = udf((v: Array[Float]) => {
      if (v == null) null
      else {
        var ma = 0.0
        v.foreach(x => ma = math.max(ma, math.abs(x.toDouble)))
        // Seq[Byte], not Array[Byte]: the latter encodes as BINARY, this
        // as array<tinyint> — the column type the quantized corpus stores
        val q: Seq[Byte] =
          if (ma == 0.0) v.toSeq.map(_ => 0.toByte)
          else v.toSeq.map { x =>
            val r = math.floor(x.toDouble * 127.0 / ma + 0.5)
            math.max(-127.0, math.min(127.0, r)).toByte
          }
        (q, ma)
      }
    })
    f(vec).cast("struct<q:array<tinyint>,max_abs:double>")
  }

  /** Inverse of [[quantizeInt8]]: approximate float vector from (q,
    * max_abs). */
  def dequantizeInt8(q: Column, maxAbs: Column): Column =
    transform(q, x => (x.cast("double") * maxAbs / lit(127.0)).cast("float"))

  /** Exact top-k over an int8-quantized corpus (`q: array<tinyint>` from
    * [[quantizeInt8]]), scored WITHOUT dequantizing via the integer
    * codegen expression [[graft.functions.CosineSimInt8]] — per-vector
    * scales cancel out of cosine, so the stored bytes rank directly.
    * Float queries are quantized on the fly (a small broadcast set). */
  def knnBruteQuantized(corpusQ: DataFrame, queries: DataFrame, k: Int,
      idCol: String = "vec_id", qCol: String = "q",
      qidCol: String = "qid", qvecCol: String = "qvec",
      excludeSelf: Boolean = true): DataFrame = {
    val qQ = queries.select(col(qidCol),
      quantizeInt8(col(qvecCol)).getField("q").as("__qq"))
    rankTopK(corpusQ.crossJoin(broadcast(qQ)), k, idCol, qidCol, excludeSelf,
      graft.functions.CosineSim.cosine_sim_i8(col("__qq"), col(qCol)))
  }

  /** Mergeable bounded top-k accumulator over (id, cos) pairs: a k-entry
    * min-heap ordered worst-first under the kNN contract (better = higher
    * cos, then smaller id), so `reduce` is O(log k) per candidate and
    * `merge` folds two partial heaps without ever holding more than k
    * entries. Spark plans a typed Aggregator as an ObjectHashAggregate
    * with a REAL partial/merge split — shuffle carries only ≤ k (id, cos)
    * pairs per (query, partition). NOTE: that shuffle bound does NOT beat
    * the window formulation on Spark 4 — WindowGroupLimit gives rank
    * windows the same map-side O(k·partitions) pruning with codegen
    * sorting, and measured 2× faster (see [[rankTopK]]); this aggregator
    * is the kept-for-reference alternative behind [[rankTopKAgg]]. */
  private class TopKAgg(k: Int)
      extends org.apache.spark.sql.expressions.Aggregator[
        (Long, Double), scala.collection.mutable.ArrayBuffer[(Double, Long)],
        Seq[(Long, Double)]] {
    type Buf = scala.collection.mutable.ArrayBuffer[(Double, Long)]
    // Explicit array-heap (root = current WORST) instead of
    // mutable.PriorityQueue: the buffer crosses the partial→merge shuffle
    // under Kryo, and an ArrayBuffer of tuples roundtrips plainly where a
    // PriorityQueue drags its captured Ordering lambda into serialization
    // (the Misra-Gries sketch above picked HashMap for the same reason)
    private def worse(a: (Double, Long), b: (Double, Long)): Boolean =
      a._1 < b._1 || (a._1 == b._1 && a._2 > b._2)
    def zero: Buf = scala.collection.mutable.ArrayBuffer.empty
    private def offer(b: Buf, e: (Double, Long)): Buf = {
      if (b.size < k) { // append + sift up toward the worst-at-root
        b += e
        var i = b.size - 1
        while (i > 0 && worse(b(i), b((i - 1) / 2))) {
          val p = (i - 1) / 2
          val t = b(i); b(i) = b(p); b(p) = t
          i = p
        }
      } else if (worse(b(0), e)) { // beats the worst: replace root, sift down
        b(0) = e
        var i = 0
        var done = false
        while (!done) {
          val l = 2 * i + 1
          val r = l + 1
          var w = i
          if (l < b.size && worse(b(l), b(w))) w = l
          if (r < b.size && worse(b(r), b(w))) w = r
          if (w == i) done = true
          else { val t = b(i); b(i) = b(w); b(w) = t; i = w }
        }
      }
      b
    }
    def reduce(b: Buf, in: (Long, Double)): Buf = offer(b, (in._2, in._1))
    def merge(a: Buf, c: Buf): Buf = { c.foreach(offer(a, _)); a }
    def finish(b: Buf): Seq[(Long, Double)] =
      b.sortWith((x, y) => worse(y, x)).map { case (c, i) => (i, c) }.toSeq
    def bufferEncoder: org.apache.spark.sql.Encoder[Buf] =
      org.apache.spark.sql.Encoders.kryo[Buf]
    def outputEncoder: org.apache.spark.sql.Encoder[Seq[(Long, Double)]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
  }

  /** Shared top-k tail for every kNN variant: self-filter, score with the
    * given expression, per-query rank window, keep k. One definition so
    * the tie-break contract (cos desc, id asc) can never diverge between
    * the brute/LSH/IVF/quantized paths.
    *
    * Why a window and not a mergeable aggregator: Spark 4 plans a
    * `row_number() <= k` filter as WindowGroupLimit (Partial → Final) —
    * each map task sorts its partition and forwards only k rows per query
    * BEFORE the exchange, so shuffle volume is already O(k · partitions)
    * per query, not O(candidates). The "obvious" improvement — a typed
    * top-k-heap Aggregator ([[rankTopKAgg]]) with ObjectHashAggregate
    * partial/merge — was built and measured: 8.71s vs 4.18s window at
    * 12.8M candidates (ScaleProbe `knn_topk_tail`, sf0.1×32 corpus, 200
    * queries) — 2× SLOWER, because the aggregator's per-row typed-encoder
    * hop and JVM-object heap updates cost more than the codegen'd
    * partial sort they replace. The window stays. */
  private def rankTopK(cands: DataFrame, k: Int, idCol: String,
      qidCol: String, excludeSelf: Boolean, score: Column): DataFrame =
    rankTopKWindow(cands, k, idCol, qidCol, excludeSelf, score)

  /** Window formulation of the top-k tail (the default — see [[rankTopK]]
    * for the measured rationale). */
  private[graft] def rankTopKWindow(cands: DataFrame, k: Int, idCol: String,
      qidCol: String, excludeSelf: Boolean, score: Column): DataFrame = {
    val scored = scoredCands(cands, idCol, qidCol, excludeSelf, score)
    val w = Window.partitionBy(qidCol).orderBy(col("cos").desc, col(idCol).asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(qidCol), col("rank"), col(idCol), col("cos"))
  }

  /** Mergeable-aggregator formulation of the top-k tail ([[TopKAgg]] via
    * ObjectHashAggregate). Identical contract and output; kept NON-default
    * because it measured 2× slower than [[rankTopKWindow]] (see
    * [[rankTopK]]) — kept as the reference `PipelineSpec` checks the
    * window path's tie contract (id-asc among equal scores) against, and
    * as the fallback shape if a scoring expression defeats WindowGroupLimit. */
  private[graft] def rankTopKAgg(cands: DataFrame, k: Int, idCol: String,
      qidCol: String, excludeSelf: Boolean, score: Column): DataFrame = {
    val topk = udaf(new TopKAgg(k))
    scoredCands(cands, idCol, qidCol, excludeSelf, score)
      .groupBy(qidCol)
      .agg(topk(col(idCol), col("cos")).as("__tk"))
      .select(col(qidCol), posexplode(col("__tk")).as(Seq("__pos", "__p")))
      .select(col(qidCol), (col("__pos") + 1).cast("int").as("rank"),
        col("__p._1").as(idCol), col("__p._2").as("cos"))
  }

  /** Score + degenerate-filter step shared by [[rankTopK]] and
    * [[rankTopKWindow]]. */
  private def scoredCands(cands: DataFrame, idCol: String, qidCol: String,
      excludeSelf: Boolean, score: Column): DataFrame =
    cands
      .filter(if (excludeSelf) col(qidCol) =!= col(idCol) else lit(true))
      .withColumn("cos", score)
      // Zero-norm / dim-mismatched vectors score NULL under [[CosineSim]]
      // (would surface as trailing garbage "neighbors" whenever k exceeds
      // the comparable candidates) or NaN under the HOF cosine (ranks
      // FIRST — Spark puts NaN greatest under desc, outranking every real
      // neighbor); drop both before the rank
      .filter(col("cos").isNotNull && !isnan(col("cos")))
}
