package graft.similarity

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.util.{ArrayData, SQLOrderingUtil, TypeUtils}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.{GraftFunctions, Kernels}

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Two paths (SURVEY north-star / BASELINE.json):
  *   - [[bruteForceTopK]]: exact baseline — broadcast the (small) query set
  *     against the corpus, codegen'd cosine per pair, per-query top-k. Scales
  *     linearly in corpus size with NO shuffle of the corpus: the only
  *     shuffle is the final per-query top-k over queries × corpus rows.
  *   - [[lshTopK]]: the scale path — sign-random-projection buckets shrink
  *     the candidate set to vectors sharing ≥1 of 4 16-bit LSH bands with
  *     the query (same index family as an IVF coarse quantizer; recall
  *     grows with band count).
  */
object Knn {

  /** Exact top-k cosine neighbors per query vector.
    * Queries must be small enough to broadcast (the usual case);
    * self-matches (same id) are excluded.
    */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec")))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"))
    val scored = c.crossJoin(q)
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cosine", GraftFunctions.cosineSim(col("q_vec"), col("c_vec")))
    topK(scored, k)
  }

  /** Filtered (hybrid) KNN — top-k under a metadata predicate on the
    * corpus side, the "vector search WHERE label = x" every production
    * vector store exposes. PRE-filter semantics by construction: the
    * predicate prunes the corpus before any distance is computed, so k
    * results are k results (post-filtering a plain top-k returns fewer
    * than k whenever the filter bites — the classic hybrid-search bug).
    * The filter composes with the scan (predicate pushdown reaches the
    * parquet reader), so a selective filter makes the search CHEAPER,
    * not approximate.
    */
  def filteredTopK(queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int,
      corpusFilter: org.apache.spark.sql.Column): DataFrame =
    bruteForceTopK(queries, corpus.filter(corpusFilter), idCol, vecCol, k)

  /** Radius (range) search — ALL neighbors at cosine ≥ `minCosine`, the
    * ANN mode top-k cannot express (dedup-threshold pulls, "everything
    * this similar" audits): set membership by threshold has no rank cut,
    * so the result is partition-order independent by construction.
    * Same broadcast-queries scan shape as [[bruteForceTopK]]; at scale
    * the scan side composes with the banded/IVF candidate generators
    * exactly like the top-k paths (a threshold survives candidate
    * pruning unchanged, unlike a global rank).
    */
  def rangeSearch(queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, minCosine: Double): DataFrame = {
    require(minCosine >= -1.0 && minCosine <= 1.0,
      s"minCosine out of [-1,1]: $minCosine")
    val q = broadcast(queries.select(col(idCol).as("query_id"),
      col(vecCol).as("q_vec")))
    corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"))
      .crossJoin(q)
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cosine",
        GraftFunctions.cosineSim(col("q_vec"), col("c_vec")))
      .filter(col("cosine") >= lit(minCosine))
      .select(col("query_id"), col("neighbor_id"), col("cosine"))
  }

  /** LSH-bucketed ANN: candidates share ≥1 signature band with the query;
    * exact cosine re-ranks. Returns up to k neighbors per query (fewer when
    * buckets are sparse).
    *
    * Recall physics: a band of `bandBits` bits matches with probability
    * (1 - θ/π)^bandBits, so narrow bands (16 bits) only retrieve HIGH-cosine
    * neighbors — near-duplicate retrieval. For weak-similarity k-NN use
    * wider recall (fewer bits per band) or [[bruteForceTopK]]; bucket sizes
    * grow accordingly — that IS the accuracy/cost dial.
    */
  def lshTopK(queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int,
      bands: Int = 4, bandBits: Int = 16): DataFrame = {
    require(bands * bandBits <= 64, "bands * bandBits must fit the 64-bit signature")
    val mask = (1L << bandBits) - 1
    // Band hashes are derived AFTER the explode from a materialized sig so
    // the O(planes×dim) projection kernel runs once per row, not per band
    // (Catalyst would collapse an inlined kernel into the Generate).
    def banded(df: DataFrame, role: String) = {
      df.select(col(idCol).as(s"${role}_id"), col(vecCol).as(s"${role}_vec"),
          GraftFunctions.signProjection(col(vecCol)).as("sig"))
        .withColumn("band_idx", explode(sequence(lit(0), lit(bands - 1))))
        .withColumn("band_hash", expr(s"shiftright(sig, band_idx * $bandBits) & $mask"))
        .drop("sig")
    }
    // The query side is BROADCAST, so carrying its vector through the band
    // join is free (no exchange); the corpus vector stays scan-local in the
    // same stage. Cosine is therefore computed INSIDE the band-join stage,
    // and only (query_id, neighbor_id, cosine) rides the band-dedup
    // exchange — no vector ever shuffles, and the corpus is scanned exactly
    // once (the old candidates→distinct→join-vectors-back shape re-scanned
    // it). A pair matching in b bands evaluates cosine b ≤ bands times —
    // scan-local compute traded for a whole corpus re-scan + two joins; the
    // map-side-combined max() then dedups band collisions exactly where the
    // distinct used to.
    val q = broadcast(banded(queries, "query"))
    val scored = banded(corpus, "neighbor")
      .join(q, Seq("band_idx", "band_hash"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        GraftFunctions.cosineSim(col("query_vec"), col("neighbor_vec")).as("cosine"))
      .groupBy("query_id", "neighbor_id")
      .agg(max(col("cosine")).as("cosine"))
    topK(scored, k)
  }

  /** Attach the int8 scalar-quantization code column ([[GraftFunctions
    * .sq8Encode]]) — scan-local, one byte per dimension. At scale this is
    * the column a pipeline PERSISTS next to (or instead of) the raw
    * vectors: the quantized corpus is 4× narrower, so every later search
    * scan moves a quarter of the bytes.
    */
  def withSq8Codes(df: DataFrame, vecCol: String,
      codeCol: String = "sq8_codes"): DataFrame = {
    GraftFunctions.register(df.sparkSession)
    df.withColumn(codeCol, GraftFunctions.sq8Encode(col(vecCol)))
  }

  /** Scalar-quantized (SQ8) top-k: the brute-force scan run over int8
    * codes — integer dot products on 4×-narrower rows — with the top
    * `refine` candidates per query re-ranked by exact cosine against the
    * raw vectors (the FAISS SQfp→refine shape). With 64-dim unit vectors
    * the quantization error on cosine is ~1e-2, so `refine` ≫ k recovers
    * exact-rank answers while the full-corpus scan stays in the cheap
    * integer kernel.
    *
    * Scale shape: both sides encode scan-locally; the query side is
    * broadcast; only (query_id, neighbor_id, approx) rides the top-refine
    * exchange — codes and vectors never shuffle; the refine join
    * broadcasts the (queries × refine)-bounded candidate list against the
    * raw corpus.
    */
  def sq8TopK(queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int, refine: Int = 32): DataFrame = {
    require(refine >= k,
      s"refine ($refine) must be >= k ($k): the exact re-rank can only " +
        "return candidates the approximate stage kept")
    val spark = queries.sparkSession
    GraftFunctions.register(spark)
    val q = broadcast(queries.select(col(idCol).as("query_id"),
      GraftFunctions.sq8Encode(col(vecCol)).as("q_codes")))
    val approxW = Window.partitionBy(col("query_id"))
      .orderBy(col("approx").desc, col("neighbor_id"))
    val cand = corpus.select(col(idCol).as("neighbor_id"),
        GraftFunctions.sq8Encode(col(vecCol)).as("c_codes"))
      .crossJoin(q)
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        GraftFunctions.sq8Dot(col("q_codes"), col("c_codes")).as("approx"))
      .withColumn("ark", row_number().over(approxW))
      .filter(col("ark") <= refine)
      .select("query_id", "neighbor_id")
      .join(queries.select(col(idCol).as("query_id"), col(vecCol).as("query_vec")),
        Seq("query_id"))
    val cvec = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"))
    val scored = cvec.join(broadcast(cand), Seq("neighbor_id"))
      .withColumn("cosine",
        GraftFunctions.cosineSim(col("query_vec"), col("c_vec")))
    topK(scored, k)
  }

  /** A built IVF index: the coarse `centroids`, held on the driver (list
    * id = array index; nlist·dim doubles, which every search routes
    * against) and the corpus `assigned` to inverted lists
    * (neighbor_id, neighbor_vec, list_id). Build ONCE per corpus version
    * ([[buildIvf]]) and search many times ([[searchIvf]]) — at 100 TB the
    * assignment scan dwarfs any single query batch, so a long-lived
    * pipeline persists `assigned` (ideally written out partitioned or
    * bucketed by list_id, which makes every later candidate join
    * partition-pruned / shuffle-free) and reattaches it here.
    */
  final case class IvfIndex(centroids: Array[Array[Double]], assigned: DataFrame,
      nlist: Int)

  /** IVF-style ANN (the FAISS IVF-Flat shape on DataFrames): a seeded
    * KMeans coarse quantizer over L2-normalized vectors partitions the
    * corpus into `nlist` inverted lists; each query probes its `nprobe`
    * nearest centroids and exact cosine re-ranks only those lists.
    *
    * Scale shape: corpus assignment is one scan-local codegen'd transform;
    * queries route against the driver-side centroid table; the candidate
    * join is an equi-join on list id against the broadcast probe list, so
    * the corpus never shuffles by query. Recall
    * grows with nprobe (nprobe = nlist ⇒ exact brute force). One-shot
    * convenience for build-then-search — reuse [[buildIvf]] +
    * [[searchIvf]] when more than one query batch hits the same corpus.
    */
  def ivfTopK(queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int,
      nlist: Int = 16, nprobe: Int = 4, seed: Long = 42L,
      maxIter: Int = 4): DataFrame =
    searchIvf(buildIvf(corpus, idCol, vecCol, nlist, seed, maxIter),
      queries, idCol, vecCol, k, nprobe)

  /** Train the coarse quantizer and assign the corpus to inverted lists —
    * the expensive, corpus-sized half of IVF search, done once per corpus
    * version. See [[ivfTopK]] for the training/assignment design notes.
    */
  def buildIvf(corpus: DataFrame, idCol: String, vecCol: String,
      nlist: Int = 16, seed: Long = 42L, maxIter: Int = 4): IvfIndex = {
    GraftFunctions.register(corpus.sparkSession)

    val base =
      corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("neighbor_vec"))
    // Train the coarse quantizer on a bounded REPRESENTATIVE sample (the
    // FAISS recipe: ~256 points per centroid suffice), collected RAW and
    // normalized + run through Lloyd's ON THE DRIVER: the sample is
    // O(nlist), independent of corpus size, so driver memory is bounded
    // by design (nlist·256·dim doubles) and training costs one
    // TakeOrdered job plus milliseconds of local arithmetic — no
    // per-iteration distributed jobs for a centroid table that fits in L2
    // cache (a distributed KMeans fit measured ~2.5 s of fixed
    // per-iteration scheduling at any corpus size; the full corpus is
    // only ASSIGNED, one scan-local codegen'd transform). Sample
    // membership is the deterministic hash-order prefix
    // ([[trainingSample]]): a pure function of ids, so the SAME training
    // set — and therefore the same centroids and recall — on any physical
    // layout (partition count, AQE re-plan, task retry), unlike
    // per-partition Bernoulli sample(); the hash order is uncorrelated
    // with any clustering/sort of the corpus, so the prefix is
    // representative where a bare limit() would train on one region of
    // the space; and TakeOrdered needs no corpus.count() pre-pass (which
    // for derived inputs is a full scan, not a metadata read).
    val sample = collectNormalizedSample(base, nlist * 256, seed)
    val centroids = lloyd(sample, math.min(nlist, sample.length), maxIter, seed)
    // Assignment is a scan-local codegen'd argmax over the plan-constant
    // centroid table ([[GraftFunctions.nearestCentroid]], which
    // normalizes the raw vector inside the kernel — a lambda-built nvec
    // column here measurably knocked the whole scan stage out of
    // whole-stage codegen) — the corpus never shuffles and no ML pipeline
    // sits in the hot path. The scoring (and its lowest-list tie-break)
    // is the one [[rankLists]] routes queries by, so a boundary vector is
    // always probed in the list it was assigned to.
    val assigned = base
      .withColumn("list_id",
        GraftFunctions.nearestCentroid(col("neighbor_vec"), centroids))
      .select("neighbor_id", "neighbor_vec", "list_id")
    IvfIndex(centroids, assigned, nlist)
  }

  /** Collect the bounded deterministic training prefix (see the [[buildIvf]]
    * design note) and L2-normalize each point driver-side.
    */
  private def collectNormalizedSample(base: DataFrame, n: Int,
      seed: Long): Array[Array[Double]] =
    trainingSample(base, "neighbor_id", n, seed)
      .select("neighbor_vec").collect()
      .map { r =>
        val v = r.getSeq[Number](0).map(_.doubleValue).toArray
        var nrm2 = 0.0; var i = 0
        while (i < v.length) { nrm2 += v(i) * v(i); i += 1 }
        if (nrm2 > 0.0) {
          val inv = 1.0 / math.sqrt(nrm2); i = 0
          while (i < v.length) { v(i) *= inv; i += 1 }
        }
        v
      }

  /** Seeded Lloyd iterations over the in-memory training sample. Init is
    * `k` distinct sample points (partial Fisher–Yates under the seed);
    * a cluster left empty in an iteration keeps its previous centroid
    * (deterministic, no respawn heuristics). A coarse quantizer doesn't
    * need k-means||'s extra initialization passes or full convergence —
    * recall depends on probing the same lists the assignment used, not on
    * centroid polish (recall@1 on the recall gate measured 1.00 at
    * maxIter ∈ {2, 4, 8}).
    */
  private def lloyd(points: Array[Array[Double]], k: Int, maxIter: Int,
      seed: Long): Array[Array[Double]] = {
    if (points.isEmpty || k <= 0) return Array.empty
    val dim = points(0).length
    val rnd = new java.util.Random(seed)
    val idx = Array.tabulate(points.length)(identity)
    var i = 0
    while (i < k) { // partial Fisher–Yates: first k slots ← distinct picks
      val j = i + rnd.nextInt(points.length - i)
      val t = idx(i); idx(i) = idx(j); idx(j) = t
      i += 1
    }
    var cents = Array.tabulate(k)(c => points(idx(c)).clone())
    val assign = new Array[Int](points.length)
    var iter = 0
    while (iter < maxIter) {
      val cn2 = cents.map { c =>
        var s = 0.0; var d = 0
        while (d < dim) { s += c(d) * c(d); d += 1 }; s
      }
      var p = 0
      while (p < points.length) {
        var best = 0; var bestScore = Double.NegativeInfinity
        var c = 0
        while (c < k) {
          var dot = 0.0; var d = 0
          while (d < dim) { dot += points(p)(d) * cents(c)(d); d += 1 }
          val score = 2.0 * dot - cn2(c)
          if (score > bestScore) { bestScore = score; best = c }
          c += 1
        }
        assign(p) = best
        p += 1
      }
      val sums = Array.fill(k)(new Array[Double](dim))
      val counts = new Array[Long](k)
      p = 0
      while (p < points.length) {
        val c = assign(p); counts(c) += 1
        var d = 0
        while (d < dim) { sums(c)(d) += points(p)(d); d += 1 }
        p += 1
      }
      cents = Array.tabulate(k) { c =>
        if (counts(c) == 0) cents(c)
        else {
          val m = sums(c); var d = 0
          while (d < dim) { m(d) /= counts(c); d += 1 }; m
        }
      }
      iter += 1
    }
    cents
  }

  /** Probe a built index: the query batch is collected and routed on the
    * driver ([[rankLists]], each query's `nprobe` nearest lists), and exact
    * cosine re-ranks only those lists' members — the per-query-batch half
    * of IVF search, cheap relative to [[buildIvf]] and repeatable against
    * one index. Collecting the batch is the only eager step (no job for a
    * local batch); the candidate join is returned lazy, statically
    * filtered to the probed lists.
    */
  def searchIvf(index: IvfIndex, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, nprobe: Int = 4): DataFrame = {
    val spark = queries.sparkSession
    GraftFunctions.register(spark)
    val batch = collectBatch(queries, idCol, vecCol)
    val probes = batch.normed.indices.flatMap { q =>
      rankLists(batch.normed(q), index.centroids, nprobe)
        .map { case (list, _) => Row(batch.ids(q), batch.vecs(q), list) }
    }
    val probeDf = spark.createDataFrame(probes.asJava, StructType(Seq(
      batch.idField.copy(name = "query_id"),
      batch.vecField.copy(name = "query_vec"),
      StructField("list_id", IntegerType, nullable = false))))
    val scored = index.assigned
      .filter(col("list_id").isin(probes.map(_.getInt(2)).distinct: _*))
      .join(broadcast(probeDf), Seq("list_id"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cosine",
        GraftFunctions.cosineSim(col("query_vec"), col("neighbor_vec")))
    topK(scored, k)
  }

  /** A built IVF-PQ index (the FAISS IVFPQ shape): the coarse `centroids`
    * as in [[IvfIndex]] and the per-subspace residual `codebooks`
    * (m × ks × dim/m), both held on the driver, and the corpus `encoded` as
    * (neighbor_id, list_id, codes) — m CODE BYTES per row instead of the
    * raw vector. That compression is the point at 100 TB: a 64-dim float
    * corpus's index shrinks 256 B → 8 B per row (+id), so the searchable
    * index stays RAM/SSD-resident while raw vectors remain cold storage.
    *
    * Scale shape: the driver-side half is O(nlist·dim + m·ks·dim/m)
    * doubles, independent of corpus size — everything a search needs to
    * route a batch and build its ADC tables without a Spark job. The
    * corpus-sized half is only ever scanned: `encoded` restricted to the
    * probed lists (a static partition filter once persisted by
    * [[saveIvfPq]]), and the raw vectors for at most queries × refine ids.
    */
  final case class IvfPqIndex(centroids: Array[Array[Double]],
      codebooks: Array[Array[Array[Double]]], encoded: DataFrame,
      nlist: Int, m: Int)

  /** One-shot IVF-PQ build + search — reuse [[buildIvfPq]] + [[searchIvfPq]]
    * when more than one query batch hits the same corpus.
    */
  def ivfPqTopK(queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int,
      nlist: Int = 16, m: Int = 8, nprobe: Int = 4, refine: Int = 32,
      seed: Long = 42L, maxIter: Int = 4): DataFrame =
    searchIvfPq(buildIvfPq(corpus, idCol, vecCol, nlist, m, seed, maxIter),
      queries, corpus, idCol, vecCol, k, nprobe, refine)

  /** Train coarse quantizer + product codebooks and encode the corpus.
    *
    * Training mirrors [[buildIvf]] — the same bounded deterministic sample
    * and driver-side Lloyd's (identical seed ⇒ identical coarse centroids,
    * so an IVF-Flat and IVF-PQ index over one corpus agree on routing).
    * Codebooks train on the sample's coarse RESIDUALS, sliced into `m`
    * contiguous subspaces of dim/m, `ks` ≤ 256 codewords each (codes must
    * fit a byte). Corpus encoding is two scan-local codegen'd expressions
    * (assign + encode) — the corpus never shuffles and only
    * (id, list_id, m bytes) is retained.
    */
  def buildIvfPq(corpus: DataFrame, idCol: String, vecCol: String,
      nlist: Int = 16, m: Int = 8, seed: Long = 42L, maxIter: Int = 4,
      ks: Int = 256): IvfPqIndex = {
    require(m > 0, s"m must be positive, got $m")
    require(ks > 0 && ks <= 256, s"ks must be in 1..256, got $ks")
    GraftFunctions.register(corpus.sparkSession)

    val base =
      corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("neighbor_vec"))
    val sample = collectNormalizedSample(base, nlist * 256, seed)
    val centroids = lloyd(sample, math.min(nlist, sample.length), maxIter, seed)
    if (sample.nonEmpty)
      require(sample(0).length % m == 0,
        s"PQ: dim ${sample(0).length} not divisible by m=$m")
    // Sample residuals against the trained coarse quantizer, then one
    // independent Lloyd's per subspace — all driver-side milliseconds on
    // the same bounded sample (FAISS trains sub-quantizers on residual
    // slices the same way; distinct seeds decorrelate subspace inits).
    val residuals = sample.map { p =>
      val c = nearestDriver(p, centroids)
      if (c < 0) p
      else {
        val r = new Array[Double](p.length)
        var i = 0
        while (i < p.length) { r(i) = p(i) - centroids(c)(i); i += 1 }
        r
      }
    }
    val dsub = if (sample.isEmpty) 0 else sample(0).length / m
    val codebooks = Array.tabulate(m) { sub =>
      val slices = residuals.map(_.slice(sub * dsub, (sub + 1) * dsub))
      lloyd(slices, math.min(ks, slices.length), maxIter, seed + 1 + sub)
    }
    val encoded = base
      .withColumn("list_id",
        GraftFunctions.nearestCentroid(col("neighbor_vec"), centroids))
      .withColumn("codes",
        GraftFunctions.pqEncode(col("neighbor_vec"), col("list_id"),
          centroids, codebooks))
      .select("neighbor_id", "list_id", "codes")
    IvfPqIndex(centroids, codebooks, encoded, nlist, m)
  }

  /** The coarse-quantizer ranking every IVF path routes by, on the
    * driver: for a normalized point p, list c scores 2·p·c − ‖c‖², i.e.
    * argmin ‖p − c‖² on the unit sphere (ranking by the raw dot would
    * disagree with the assignment whenever centroid norms differ, and an
    * identical query could miss its own vector's list). Returns the `n`
    * best lists as (list id, p·c), best first, ties to the lowest list id
    * — the rule of [[graft.functions.Kernels.nearestCentroid]], so a
    * boundary vector is always probed in the list it was assigned to.
    */
  private def rankLists(p: Array[Double], cents: Array[Array[Double]],
      n: Int): Array[(Int, Double)] = {
    val dots = new Array[Double](cents.length)
    val scores = new Array[Double](cents.length)
    var c = 0
    while (c < cents.length) {
      var dot = 0.0; var n2 = 0.0; var i = 0
      val cc = cents(c)
      while (i < cc.length) {
        if (i < p.length) dot += p(i) * cc(i)
        n2 += cc(i) * cc(i); i += 1
      }
      dots(c) = dot
      scores(c) = 2.0 * dot - n2
      c += 1
    }
    Array.range(0, cents.length)
      .sorted(Ordering.fromLessThan[Int] { (a, b) =>
        val cmp = SQLOrderingUtil.compareDoubles(scores(a), scores(b))
        if (cmp != 0) cmp > 0 else a < b
      })
      .take(math.max(n, 0)).map(c => (c, dots(c)))
  }

  /** Nearest list of a normalized point, -1 when there are no centroids. */
  private def nearestDriver(p: Array[Double], cents: Array[Array[Double]]): Int =
    rankLists(p, cents, 1).headOption.fold(-1)(_._1)

  /** A query batch collected to the driver: the raw id and vector values,
    * the vectors as kernel input (`data`) and L2-normalized (`normed`).
    * Normalization divides each element by the norm (not a multiply by
    * its inverse), the arithmetic of the SQL probe-ranking formulation the
    * specs compare against, so routing reproduces it to the bit. Queries
    * with a null id or vector can match nothing and are dropped.
    */
  private final case class QueryBatch(idField: StructField,
      vecField: StructField, isFloat: Boolean, ids: Array[Any],
      vecs: Array[Any], data: Array[ArrayData], normed: Array[Array[Double]])

  private def collectBatch(queries: DataFrame, idCol: String,
      vecCol: String): QueryBatch = {
    val q = queries.select(col(idCol), col(vecCol))
    val Array(idField, vecField) = q.schema.fields
    val isFloat = isFloatVector(vecField)
    val rows = q.collect().filter(r => !r.isNullAt(0) && !r.isNullAt(1))
    val data = rows.map(r => arrayData(r.getSeq[Any](1), isFloat))
    val normed = data.map { v =>
      val x = Array.tabulate(v.numElements())(i =>
        if (isFloat) v.getFloat(i).toDouble else v.getDouble(i))
      var nrm2 = 0.0; var i = 0
      while (i < x.length) { nrm2 += x(i) * x(i); i += 1 }
      val l2 = math.sqrt(nrm2)
      x.map(_ / l2)
    }
    QueryBatch(idField, vecField, isFloat, rows.map(_.get(0)),
      rows.map(_.get(1)), data, normed)
  }

  private def isFloatVector(f: StructField): Boolean = f.dataType match {
    case ArrayType(FloatType, _)  => true
    case ArrayType(DoubleType, _) => false
    case t => throw new IllegalArgumentException(
      s"${f.name}: expected array<float> or array<double>, got ${t.sql}")
  }

  private def arrayData(v: scala.collection.Seq[Any], isFloat: Boolean): ArrayData =
    if (isFloat) ArrayData.toArrayData(v.map(_.asInstanceOf[Float]).toArray)
    else ArrayData.toArrayData(v.map(_.asInstanceOf[Double]).toArray)

  /** Search a built IVF-PQ index. Each query picks its `nprobe` lists on
    * the driver ([[rankLists]]) and gets its ADC table there; candidates in
    * the probed lists are scored ASYMMETRICALLY — approx cosine =
    * q·centroid + Σ ADC table lookups, m array reads per candidate, never
    * a dim-length dot — and the top `refine` per query (approx desc, then
    * id) are re-ranked with exact cosine against the raw corpus vectors,
    * returning the top k per query (cosine desc, then id) as
    * (query_id, neighbor_id, cosine, rank).
    *
    * The search runs when called and returns a local DataFrame: at most
    * three Spark jobs per batch (none to collect a local query batch, two
    * for the candidate stage, one for the refine scan).
    *
    * Scale shape: the query batch and at most queries × refine candidate
    * rows are collected to the driver, so a batch must be broadcast-sized
    * (each query's m·ks-double ADC table rides the plan). The candidate
    * stage is one scan of `encoded` with a static `list_id IN (probed
    * lists)` filter — partition pruning on a persisted index — scored by
    * one codegen'd expression that holds the batch's routing as a plan
    * constant ([[GraftFunctions.pqProbeScores]]); only (query, id, approx)
    * rides its single exchange, the top-refine window. The refine scan
    * reads the raw corpus for the candidate ids only and scores them with
    * the kernel `graft_cosine` calls, so scores are bit-identical to the
    * SQL surface.
    */
  def searchIvfPq(index: IvfPqIndex, queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int, nprobe: Int = 4,
      refine: Int = 32): DataFrame = {
    GraftFunctions.register(queries.sparkSession)
    val batch = collectBatch(queries, idCol, vecCol)
    val pairs = ivfPqCandidates(index, batch, nprobe, refine)
      .fold(Array.empty[(Int, Any)])(_.collect().map(r => (r.getInt(0), r.get(1))))
    refineTopK(batch, pairs, corpus, idCol, vecCol, k)
  }

  /** The candidate plan [[searchIvfPq]] runs for `queries` (None when no
    * list is probed): per query, the top `refine` (qidx, neighbor_id) by
    * approx desc, then id, where qidx indexes the collected batch.
    */
  private[graft] def ivfPqCandidatePlan(index: IvfPqIndex, queries: DataFrame,
      idCol: String, vecCol: String, nprobe: Int = 4,
      refine: Int = 32): Option[DataFrame] = {
    GraftFunctions.register(queries.sparkSession)
    ivfPqCandidates(index, collectBatch(queries, idCol, vecCol), nprobe, refine)
  }

  private def ivfPqCandidates(index: IvfPqIndex, batch: QueryBatch,
      nprobe: Int, refine: Int): Option[DataFrame] = {
    // Invert the routing to per-list probe lists (CSR by list id).
    val byList = Array.fill(index.centroids.length)(
      scala.collection.mutable.ArrayBuffer.empty[(Int, Double)])
    batch.normed.indices.foreach { q =>
      rankLists(batch.normed(q), index.centroids, nprobe)
        .foreach { case (list, qcdot) => byList(list) += ((q, qcdot)) }
    }
    val probed = byList.indices.filter(byList(_).nonEmpty)
    if (probed.isEmpty) return None
    val books = index.codebooks.flatten.flatten
    val m = index.codebooks.length
    val ks = if (m == 0) 0 else index.codebooks(0).length
    val tables = batch.data.map { v =>
      (if (batch.isFloat) Kernels.pqAdcTableF(v, books, m, ks)
       else Kernels.pqAdcTableD(v, books, m, ks)).toDoubleArray()
    }
    val scores = GraftFunctions.pqProbeScores(col("list_id"), col("codes"),
      byList.scanLeft(0)(_ + _.size), byList.flatMap(_.map(_._1)),
      byList.flatMap(_.map(_._2)), tables)
    val queryId = element_at(array(batch.ids.toIndexedSeq.map(lit): _*),
      col("qidx") + 1)
    val approxW = Window.partitionBy(col("qidx"))
      .orderBy(col("approx").desc, col("neighbor_id"))
    Some(index.encoded
      .filter(col("list_id").isin(probed: _*))
      .select(col("neighbor_id"), explode(scores).as("p"))
      .select(col("p.qidx").as("qidx"), col("neighbor_id"),
        col("p.approx").as("approx"))
      .filter(col("neighbor_id") =!= queryId)
      .withColumn("ark", row_number().over(approxW))
      .filter(col("ark") <= refine)
      .select("qidx", "neighbor_id"))
  }

  /** Exact re-rank of collected (qidx, neighbor_id) candidates: one scan of
    * `corpus` for the candidate ids, cosine by the `graft_cosine` kernels,
    * top k per query by (cosine desc, id asc) in Spark's orderings, as a
    * local DataFrame. A corpus id held by several rows scores each row, as
    * a join on the id would.
    */
  private def refineTopK(batch: QueryBatch, pairs: Array[(Int, Any)],
      corpus: DataFrame, idCol: String, vecCol: String, k: Int): DataFrame = {
    val cvec = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"))
    val Array(idField, vecField) = cvec.schema.fields
    val isFloat = isFloatVector(vecField)
    require(isFloat == batch.isFloat,
      s"cosine needs two array<float> or two array<double> vectors, got " +
        s"${batch.vecField.dataType.sql} and ${vecField.dataType.sql}")
    val ids = pairs.map(_._2).distinct
    val vecsById: Map[Any, Array[ArrayData]] =
      if (ids.isEmpty) Map.empty
      else cvec.filter(col("neighbor_id").isin(ids.toIndexedSeq: _*)).collect()
        .groupBy(_.get(0)).map { case (id, rs) =>
          id -> rs.map(r =>
            if (r.isNullAt(1)) null else arrayData(r.getSeq[Any](1), isFloat))
        }
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(idField.dataType)
    val idAsc = TypeUtils.getInterpretedOrdering(idField.dataType)
    // (neighbor id, its catalyst value, cosine or null)
    val byRank: Ordering[(Any, Any, java.lang.Double)] = (a, b) =>
      (a._3, b._3) match {
        case (null, null) => idAsc.compare(a._2, b._2)
        case (null, _)    => 1
        case (_, null)    => -1
        case (x, y) =>
          val c = SQLOrderingUtil.compareDoubles(y, x)
          if (c != 0) c else idAsc.compare(a._2, b._2)
      }
    val cosine: (ArrayData, ArrayData) => Double =
      if (isFloat) Kernels.cosine else Kernels.cosineD
    val rows = pairs.groupBy(_._1).toSeq.sortBy(_._1).flatMap { case (q, cands) =>
      cands.toSeq
        .flatMap { case (_, nid) =>
          val cat = toCatalyst(nid)
          vecsById.getOrElse(nid, Array.empty[ArrayData]).map { v =>
            (nid, cat,
              if (v == null) null else java.lang.Double.valueOf(cosine(batch.data(q), v)))
          }
        }
        .sorted(byRank).take(k).zipWithIndex
        .map { case ((nid, _, cos), r) => Row(batch.ids(q), nid, cos, r + 1) }
    }
    corpus.sparkSession.createDataFrame(rows.asJava, StructType(Seq(
      batch.idField.copy(name = "query_id"),
      idField,
      StructField("cosine", DoubleType),
      StructField("rank", IntegerType, nullable = false))))
  }

  // ------------------------------------------------------------ persistence
  // An index is built once per corpus version and searched for months; at
  // 100 TB the encoded/assigned corpus must live in tables, not an
  // in-memory frame. The corpus-sized half is written PARTITIONED BY
  // list_id, so a later search's static `list_id IN (probed lists)` filter
  // prunes the scan to the probed lists (nprobe/nlist of the index at most
  // per query — the I/O analog of FAISS only walking probed inverted
  // lists; spec-asserted). The centroid table is collected back on load.

  /** Persist a built IVF-Flat index as `<prefix>_centroids` +
    * `<prefix>_assigned` (partitioned by list id).
    */
  def saveIvf(index: IvfIndex, prefix: String): Unit = {
    saveCentroids(index.assigned.sparkSession, index.centroids, prefix)
    index.assigned.write.mode("overwrite").partitionBy("list_id")
      .saveAsTable(s"${prefix}_assigned")
  }

  /** Reattach a persisted IVF-Flat index. */
  def loadIvf(spark: SparkSession, prefix: String): IvfIndex = {
    val cents = loadCentroids(spark, prefix)
    IvfIndex(cents,
      spark.table(s"${prefix}_assigned")
        .select("neighbor_id", "neighbor_vec", "list_id"),
      cents.length)
  }

  /** Persist a built IVF-PQ index as `<prefix>_centroids`,
    * `<prefix>_codebooks` (one row per (subspace, code) — m·ks rows,
    * metadata-scale) and `<prefix>_encoded` (partitioned by list id).
    */
  def saveIvfPq(index: IvfPqIndex, prefix: String): Unit = {
    val spark = index.encoded.sparkSession
    import spark.implicits._
    saveCentroids(spark, index.centroids, prefix)
    index.codebooks.zipWithIndex.flatMap { case (sub, s) =>
      sub.zipWithIndex.map { case (w, j) => (s, j, w.toSeq) }
    }.toSeq.toDF("sub", "code", "codeword")
      .write.mode("overwrite").saveAsTable(s"${prefix}_codebooks")
    index.encoded.write.mode("overwrite").partitionBy("list_id")
      .saveAsTable(s"${prefix}_encoded")
  }

  /** Reattach a persisted IVF-PQ index (centroids and codebooks collect
    * driver-side — nlist + m·ks rows, the same bounded footprint training
    * had).
    */
  def loadIvfPq(spark: SparkSession, prefix: String): IvfPqIndex = {
    val cents = loadCentroids(spark, prefix)
    val bookRows = spark.table(s"${prefix}_codebooks").collect()
      .map(r => (r.getInt(0), r.getInt(1),
        r.getSeq[Number](2).map(_.doubleValue).toArray))
    val codebooks =
      if (bookRows.isEmpty) Array.empty[Array[Array[Double]]]
      else Array.tabulate(bookRows.map(_._1).max + 1) { s =>
        bookRows.filter(_._1 == s).sortBy(_._2).map(_._3)
      }
    IvfPqIndex(cents, codebooks,
      spark.table(s"${prefix}_encoded").select("neighbor_id", "list_id", "codes"),
      cents.length, codebooks.length)
  }

  /** `<prefix>_centroids` as (list_id, centroid, cnorm2). */
  private def saveCentroids(spark: SparkSession, cents: Array[Array[Double]],
      prefix: String): Unit = {
    import spark.implicits._
    cents.zipWithIndex
      .map { case (c, i) => (i, c.toSeq, c.map(x => x * x).sum) }.toSeq
      .toDF("list_id", "centroid", "cnorm2")
      .write.mode("overwrite").saveAsTable(s"${prefix}_centroids")
  }

  private def loadCentroids(spark: SparkSession,
      prefix: String): Array[Array[Double]] = {
    val rows = spark.table(s"${prefix}_centroids").select("list_id", "centroid")
      .collect().map(r => (r.getInt(0), r.getSeq[Number](1).map(_.doubleValue).toArray))
      .sortBy(_._1)
    require(rows.map(_._1).sameElements(rows.indices),
      s"${prefix}_centroids: list ids must be 0..${rows.length - 1}")
    rows.map(_._2)
  }

  /** Deterministic, layout-independent bounded sample: the first `n` rows
    * in (xxhash64(seed, id), id) order — membership is a pure function of
    * the id column, so the same rows are selected on any partitioning, and
    * the TakeOrdered top-n needs no count() pre-pass over the input.
    */
  private[graft] def trainingSample(df: DataFrame, idCol: String, n: Int,
      seed: Long): DataFrame =
    df.orderBy(xxhash64(lit(seed), col(idCol)), col(idCol)).limit(n)

  private def topK(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    scored
      .select(col("query_id"), col("neighbor_id"), col("cosine"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Attach the binary-quantization code column: each vector component
    * contributes one SIGN BIT (set iff > 0), packed 32 bits per long
    * word — 32 bits per word rather than 64 so an engine that builds the
    * word as a SUM of distinct powers (the SQL-replay form) can never
    * overflow a signed 64-bit accumulator on the top bit. 1 bit per
    * dimension is a 32× shrink over float32: the column a 100 TB corpus
    * persists for first-stage retrieval (the "binary quantization" mode
    * of production vector stores), with Hamming distance as the search
    * metric. Pure built-in expressions (aggregate/transform/bit ops) —
    * whole-stage codegen, no UDF, no custom kernel.
    */
  def withBinaryCodes(df: DataFrame, vecCol: String,
      codeCol: String = "bq_codes"): DataFrame = {
    // Backtick-quote the column in the SQL fragment: every other entry
    // point takes the name through col(), which accepts non-identifier
    // names (dashes, spaces) that a raw splice would fail to parse.
    val v = s"`${vecCol.replace("`", "``")}`"
    df.withColumn(codeCol, expr(
      s"""transform(sequence(0, CAST(ceil(size($v) / 32.0) AS INT) - 1),
         |  w -> aggregate(sequence(0, 31), 0L,
         |    (acc, b) -> CASE WHEN w * 32 + b < size($v)
         |        AND element_at($v, w * 32 + b + 1) > 0
         |      THEN acc + shiftleft(1L, b) ELSE acc END))""".stripMargin))
  }

  /** Truncated-dimension top-k — the Matryoshka retrieval shape (MRL
    * embeddings are trained so their PREFIX is itself an embedding;
    * production stores search the first `d` dims cheap and re-rank
    * full-dim): the first stage scans cosine over `slice(vec, 1, d)` —
    * d/dim of the bytes and multiplies — keeps `refine` candidates per
    * query (score desc, id asc), and exact full-dim cosine re-ranks the
    * top k. Same scale shape as [[sq8TopK]]/[[binaryTopK]]: scan-local
    * truncation, broadcast queries, only (query_id, neighbor_id, score)
    * rides the top-refine exchange.
    */
  def truncatedTopK(queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, d: Int, k: Int,
      refine: Int = 32): DataFrame = {
    require(d > 0, s"d must be positive, got $d")
    require(k > 0 && refine >= k, s"need refine ($refine) >= k ($k) > 0")
    val trunc = (c: org.apache.spark.sql.Column) => slice(c, 1, d)
    val q = broadcast(queries.select(col(idCol).as("query_id"),
      trunc(col(vecCol)).as("q_t")))
    val approxW = Window.partitionBy(col("query_id"))
      .orderBy(col("approx").desc, col("neighbor_id"))
    val cand = corpus.select(col(idCol).as("neighbor_id"),
        trunc(col(vecCol)).as("c_t"))
      .crossJoin(q)
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        GraftFunctions.cosineSim(col("q_t"), col("c_t")).as("approx"))
      .withColumn("ark", row_number().over(approxW))
      .filter(col("ark") <= refine)
      .select("query_id", "neighbor_id")
      .join(queries.select(col(idCol).as("query_id"), col(vecCol).as("query_vec")),
        Seq("query_id"))
    val cvec = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"))
    val scored = cvec.join(broadcast(cand), Seq("neighbor_id"))
      .withColumn("cosine",
        GraftFunctions.cosineSim(col("query_vec"), col("c_vec")))
    topK(scored, k)
  }

  /** Binary-quantized top-k (the FAISS BinaryFlat → refine shape): a
    * full-corpus Hamming scan over the 1-bit codes — integer XOR +
    * popcount on 32×-narrower rows — keeps the `refine` closest
    * candidates per query (Hamming asc, id asc: a TOTAL order, so unlike
    * float first stages the candidate cut is bit-replayable on any
    * engine), then exact cosine against the raw vectors re-ranks the
    * top k. Scale shape mirrors [[sq8TopK]]: codes computed scan-local,
    * queries broadcast, only (query_id, neighbor_id, hamming) rides the
    * top-refine exchange, and the refine join broadcasts the bounded
    * candidate list against the raw corpus.
    */
  def binaryTopK(queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int, refine: Int = 32): DataFrame = {
    require(k > 0 && refine >= k, s"need refine ($refine) >= k ($k) > 0")
    val q = broadcast(withBinaryCodes(
      queries.select(col(idCol).as("query_id"), col(vecCol)), vecCol, "q_codes")
      .drop(vecCol))
    val hammingW = Window.partitionBy(col("query_id"))
      .orderBy(col("hamming").asc, col("neighbor_id"))
    val hamming = expr(
      "aggregate(zip_with(q_codes, c_codes, (a, b) -> bit_count(a ^ b)), " +
        "0, (acc, x) -> acc + x)")
    val cand = withBinaryCodes(
        corpus.select(col(idCol).as("neighbor_id"), col(vecCol)), vecCol, "c_codes")
      .drop(vecCol)
      .crossJoin(q)
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"), hamming.as("hamming"))
      .withColumn("hrk", row_number().over(hammingW))
      .filter(col("hrk") <= refine)
      .select("query_id", "neighbor_id")
      .join(queries.select(col(idCol).as("query_id"), col(vecCol).as("query_vec")),
        Seq("query_id"))
    val cvec = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"))
    val scored = cvec.join(broadcast(cand), Seq("neighbor_id"))
      .withColumn("cosine",
        GraftFunctions.cosineSim(col("query_vec"), col("c_vec")))
    topK(scored, k)
  }
}
