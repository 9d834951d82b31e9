package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (`Array[Float]`) — builder-prompt surface.
  *
  *  - bruteTopK: exact cosine top-k. One scan + a size-k driver result;
  *    at scale this is a map + TakeOrdered (no shuffle of the data).
  *  - LSH (random hyperplanes): each vector gets a b-bit signature;
  *    search only probes the query's bucket (and optionally neighboring
  *    buckets by 1-bit flips). Bucketing is a deterministic map; the
  *    bucket column can be persisted and used as a partition key at
  *    scale so a query touches one partition.
  *  - IVF: coarse centroids picked deterministically from the data
  *    (stride sampling), vectors assigned to nearest centroid; search
  *    probes nProbe nearest centroid lists.
  */
object Ann {

  /** Deterministic ±1 hyperplane components, derived from md5 so a SQL
    * oracle can regenerate the identical family
    * (`substr(md5(p || '_' || j), 1, 1) >= '8'` → -1). Cached per
    * (bits, dims); Rademacher hyperplanes are a standard sign-random
    * projection for cosine LSH.
    */
  private val planeCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int), Array[Array[Double]]]()

  private def planes(bits: Int, dims: Int): Array[Array[Double]] =
    planeCache.computeIfAbsent((bits, dims), { _ =>
      Array.tabulate(bits) { p =>
        Array.tabulate(dims) { j =>
          val d = Hashing.md5(s"${p}_$j".getBytes(java.nio.charset.StandardCharsets.UTF_8))
          if (((d(0) >> 4) & 0xf) >= 8) -1.0 else 1.0
        }
      }
    })

  /** b-bit hyperplane signature of a vector. */
  def lshSignature(vec: Array[Float], bits: Int): Int = {
    val pl = planes(bits, vec.length)
    var sig = 0
    var p = 0
    while (p < bits) {
      var dot = 0.0
      var i = 0
      while (i < vec.length) { dot += vec(i) * pl(p)(i); i += 1 }
      if (dot >= 0) sig |= (1 << p)
      p += 1
    }
    sig
  }

  /** [[lshSignature]] directly over Catalyst ArrayData — the codegen
    * expression path (no per-row array copy). Same floats, same order,
    * same signature.
    */
  def lshSignatureAD(vec: org.apache.spark.sql.catalyst.util.ArrayData,
      bits: Int): Int = {
    val n = vec.numElements()
    val pl = planes(bits, n)
    var sig = 0
    var p = 0
    while (p < bits) {
      var dot = 0.0
      var i = 0
      while (i < n) { dot += vec.getFloat(i) * pl(p)(i); i += 1 }
      if (dot >= 0) sig |= (1 << p)
      p += 1
    }
    sig
  }

  /** Sign-random-projection VALUES (not signs): the nPlanes dot products
    * of a vector against the same md5-derived ±1 hyperplane family as
    * [[lshSignatureAD]] — the Rademacher dimensionality reduction
    * (Achlioptas 2003): E[⟨Rx, Ry⟩] ∝ ⟨x, y⟩, so a 64-d embedding
    * compresses to nPlanes doubles with cosine approximately preserved.
    * A SQL oracle regenerates the identical matrix from md5 hex.
    */
  def signProjectAD(vec: org.apache.spark.sql.catalyst.util.ArrayData,
      nPlanes: Int): Array[Double] = {
    val n = vec.numElements()
    val pl = planes(nPlanes, n)
    val out = new Array[Double](nPlanes)
    var p = 0
    while (p < nPlanes) {
      var dot = 0.0
      var i = 0
      while (i < n) { dot += vec.getFloat(i) * pl(p)(i); i += 1 }
      out(p) = dot
      p += 1
    }
    out
  }

  /** Cosine similarity, with the zero-vector case pinned to 0.0: the
    * raw 0/0 division yields NaN, and NaN sorts ABOVE every real value
    * in Spark's descending order — one all-zero embedding (e.g. a
    * failed-decode feature stub) would otherwise rank #1 in every
    * top-k, hard-negative and threshold result.
    */
  def cosine(a: Column, b: Column): Column = {
    val dot = graft.functions.VectorExpressions.dot_f _
    val denom = sqrt(dot(a, a)) * sqrt(dot(b, b))
    // nanvl: a NaN COMPONENT (failed decode emitting NaN, not zeros)
    // makes denom NaN, slips past the === 0.0 pin, and would rank #1
    // in every descending top-k — same failure mode, different input
    nanvl(when(denom === 0.0, 0.0).otherwise(dot(a, b) / denom), lit(0.0))
  }

  /** JVM-side twin of [[cosine]] (streaming/state code paths) — same
    * sequential double accumulation, same values, same zero-vector
    * pinning.
    */
  def cosineArrays(a: Array[Float], b: Array[Float]): Double = {
    val n = math.min(a.length, b.length)
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dot += x * y; na += x * x; nb += y * y; i += 1
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    val sim = if (denom == 0.0) 0.0 else dot / denom
    if (sim.isNaN) 0.0 else sim // NaN component — same pin as the Column twin
  }

  /** Exact brute-force cosine top-k against one query vector. */
  def bruteTopK(df: DataFrame, vecCol: String, idCol: String,
      query: Array[Float], k: Int): DataFrame = {
    val q = typedLit(query)
    Par.spread(df, col(idCol))
      .select(col(idCol), cosine(col(vecCol), q).as("sim"))
      .orderBy(col("sim").desc, col(idCol))
      .limit(k)
  }

  /** Batch exact top-k: cosine top-k of the corpus for EVERY query row
    * at once — the realistic retrieval shape (one scan serves the whole
    * query batch, instead of one job per query). The query side is
    * broadcast; per-query top-k comes from [[TopK.perGroup]]'s bounded
    * heaps, so state is O(k × queries) per task and the shuffle carries
    * heaps, never the corpus × queries cross product.
    *
    * Output: (qid, rank, id, sim) with rank 1..k per query.
    */
  def bruteTopKBatch(corpus: DataFrame, queries: DataFrame, vecCol: String,
      idCol: String, qidCol: String, qvecCol: String, k: Int): DataFrame = {
    val joined = Par.spread(corpus, col(idCol))
      .select(col(idCol).as("id"), col(vecCol).as("__v"))
      .crossJoin(broadcast(
        queries.select(col(qidCol).as("qid"), col(qvecCol).as("__q"))))
      .select(col("qid"), col("id"),
        cosine(col("__v"), col("__q")).as("sim"))
    TopK.perGroup(joined, Seq("qid"),
        Seq((col("sim"), true), (col("id"), false)), k, "rank")
      .select(col("qid"), col("rank"), col("id"), col("sim"))
  }

  /** Semantic eval-set decontamination: annotate every corpus vector
    * with its maximum cosine similarity to a (small) held-out eval
    * embedding set, as an exact integer in 1e-5 units — the caller
    * thresholds on the integer to drop eval-contaminated training rows
    * (the embedding-space twin of the q50 n-gram decontamination; the
    * guard PaLM/Llama-style pipelines run so eval neighbors don't leak
    * into training).
    *
    * Scale shape: the eval set collapses to ONE broadcast single-row
    * aggregate (an array of vectors), the max-cosine fold runs inside
    * the corpus scan's projection — zero shuffle, no corpus×eval join
    * materializes, and per-row cost is |eval| fused dot products. Each
    * per-pair cosine is rounded once (1e-5 units) BEFORE the max, so
    * the annotation is engine-deterministic (integer max commutes).
    */
  def semanticDecontam(corpus: DataFrame, evalSet: DataFrame,
      vecCol: String, simCol: String = "max_sim_u"): DataFrame = {
    val dot = graft.functions.VectorExpressions.dot_f _
    // eval norms ride in the broadcast (computed once per eval vector,
    // not once per corpus row), and the corpus self-norm hoists to one
    // column per row — the naive cosine-in-a-lambda recomputed
    // sqrt(dot(v,v)) |eval| times per row, ~1/3 of the kernel's FLOPs.
    // Same float-op order as cosine() (dot / (sqrt(na)*sqrt(nb))), so
    // annotated values are bit-identical to the previous formulation.
    val evs = evalSet.agg(collect_list(col(vecCol)).as("__evs0"))
      .select(transform(col("__evs0"), e =>
        struct(e.as("v"), sqrt(dot(e, e)).as("n"))).as("__evs"))
    // empty eval set: array_max over an empty array is NULL, which makes
    // BOTH `sim < T` (keep-clean) and `sim >= T` (flag) silently select
    // nothing — pin to the cosine floor so filters behave and the
    // annotation reads "similar to nothing". The pin is gated on the
    // eval set actually being empty (NOT a blanket coalesce): a corpus
    // row whose VECTOR is null must keep a null sim — "similar to
    // nothing" would sneak an unembeddable row past a sim<T keep-clean
    // filter that null correctly excludes.
    corpus.crossJoin(broadcast(evs))
      .withColumn("__vn", sqrt(dot(col(vecCol), col(vecCol))))
      .withColumn(simCol, when(size(col("__evs")) === 0, lit(-100000L))
        .otherwise(array_max(transform(col("__evs"), q =>
          round(nanvl(
            when(col("__vn") * q("n") === 0.0, 0.0)
              .otherwise(dot(col(vecCol), q("v")) / (col("__vn") * q("n"))),
            lit(0.0)) * 1e5).cast("long")))))
      .drop("__evs", "__vn")
  }

  /** Hard-negative mining for contrastive training: for each query,
    * the top-k most-similar corpus vectors EXCLUDING the query itself
    * and excluding near-duplicates (cosine ≥ `dupCeil`) — the standard
    * guard against false negatives (a near-dup of the anchor pushed
    * apart as a "negative" poisons the embedding space; see e.g. the
    * filtering step of DPR/SimCSE-style pipelines). The survivors are
    * the hardest TRUE negatives.
    *
    * Same scale shape as [[bruteTopKBatch]]: the query batch
    * broadcasts, cosine + both filters fuse into the corpus scan's
    * generated code (no candidate ever shuffles unless it survives),
    * and per-query ranking is the bounded-heap TopK — the corpus never
    * sorts. For query batches too large to broadcast, compose the same
    * filters over [[lshTopKBatch]]'s equi-join candidates instead.
    */
  def hardNegatives(corpus: DataFrame, queries: DataFrame, vecCol: String,
      idCol: String, qidCol: String, qvecCol: String, k: Int,
      dupCeil: Double): DataFrame = {
    require(dupCeil > -1.0 && dupCeil <= 1.0,
      s"dupCeil must be a cosine in (-1, 1]: $dupCeil")
    val joined = corpus
      .select(col(idCol).as("id"), col(vecCol).as("__v"))
      .crossJoin(broadcast(
        queries.select(col(qidCol).as("qid"), col(qvecCol).as("__q"))))
      .filter(col("id") =!= col("qid"))
      .select(col("qid"), col("id"),
        cosine(col("__v"), col("__q")).as("sim"))
      .filter(col("sim") < dupCeil)
    TopK.perGroup(joined, Seq("qid"),
        Seq((col("sim"), true), (col("id"), false)), k, "rank")
      .select(col("qid"), col("rank"), col("id"), col("sim"))
  }

  /** Add the LSH bucket column (persist + partition by this at scale).
    * Codegen expression, not a UDF — the signature computation stays
    * inside the fused stage.
    */
  def withLshBucket(df: DataFrame, vecCol: String, bits: Int = 12,
      bucketCol: String = "lsh_bucket"): DataFrame =
    df.withColumn(bucketCol,
      graft.functions.SketchExpressions.lsh_sig(col(vecCol), bits))

  /** ANN top-k probing the query's bucket plus all 1-bit-flip neighbors. */
  def lshTopK(df: DataFrame, vecCol: String, idCol: String,
      query: Array[Float], k: Int, bits: Int = 12): DataFrame = {
    val qSig = lshSignature(query, bits)
    val probes = qSig +: (0 until bits).map(b => qSig ^ (1 << b))
    val bucketed = withLshBucket(df, vecCol, bits)
    bruteTopK(bucketed.filter(col("lsh_bucket").isin(probes: _*)),
      vecCol, idCol, query, k)
  }

  /** Batch ANN via LSH buckets: candidates come from an EQUI-JOIN on
    * the signature (query side exploded to its multi-probe set), so no
    * corpus × queries product ever materializes — the shape that
    * survives query batches too large to broadcast. Exact cosine ranks
    * within candidates via the bounded-heap TopK. Recall follows the
    * same bucket math as [[lshTopK]].
    *
    * Output: (qid, rank, id, sim), rank 1..≤k (fewer when a query's
    * probed buckets hold fewer than k candidates).
    */
  def lshTopKBatch(corpus: DataFrame, queries: DataFrame, vecCol: String,
      idCol: String, qidCol: String, qvecCol: String, k: Int,
      bits: Int = 12): DataFrame = {
    val c = withLshBucket(
      corpus.select(col(idCol).as("id"), col(vecCol).as("__v")),
      "__v", bits, "__sig")
    // each query probes its own bucket + all 1-bit flips
    val q = withLshBucket(
      queries.select(col(qidCol).as("qid"), col(qvecCol).as("__q")),
      "__q", bits, "__qsig")
      .select(col("qid"), col("__q"),
        explode(graft.functions.SketchExpressions
          .lsh_probes(col("__qsig"), bits)).as("__sig"))
    val cand = c.join(q, Seq("__sig"))
      .select(col("qid"), col("id"), cosine(col("__v"), col("__q")).as("sim"))
    TopK.perGroup(cand, Seq("qid"),
        Seq((col("sim"), true), (col("id"), false)), k, "rank")
      .select(col("qid"), col("rank"), col("id"), col("sim"))
  }

  /** Deterministic coarse centroids: stride-sample nLists vectors.
    * The corpus size rides along as a broadcast 1-row aggregate (the
    * q14 trick) instead of a driver `count()` action, so the whole
    * centroid pick is ONE action — no separate count job per call
    * (q44 pays this once, q51/q53 twice more via [[KMeans.kmeans]]).
    *
    * CONTRACT: `idCol` is assumed roughly dense from 0 (the recipe every
    * oracle replays: `id % stride == 0`, first nLists by id). Structured
    * id spaces break the stride filter — all-odd ids with an even stride
    * match NOTHING — so a degenerate pick fails loudly here instead of
    * cascading zero centroids into ivf_assign/k-means. Remap ids (e.g.
    * `row_number`-style dense ranks) before calling with sparse ids.
    */
  def ivfCentroids(df: DataFrame, vecCol: String, idCol: String,
      nLists: Int): Array[Array[Float]] = {
    val nDf = broadcast(df.agg(count(lit(1)).as("__n")))
    val stride =
      greatest(lit(1L), floor(col("__n") / nLists).cast("long"))
    val seeds = df.select(col(idCol), col(vecCol)).crossJoin(nDf)
      .filter(pmod(col(idCol), stride) === 0)
      .orderBy(col(idCol))
      .limit(nLists)
      .select(col(idCol), col(vecCol))
    val picked = graft.util.CollectCapped(seeds, nLists.toLong,
      "IVF seed centroids")
      .map(_.getSeq[Float](1).toArray)
    require(picked.nonEmpty,
      s"stride sample over $idCol selected no rows — ids are not " +
        "dense-from-0 (see ivfCentroids contract); densify ids first")
    picked
  }

  /** Assign each vector to its IVF list. Codegen expression carrying the
    * small centroid table as a generated-code reference object — the
    * per-row argmax stays inside the fused stage, no UDF bridge.
    */
  def withIvfList(df: DataFrame, vecCol: String,
      cents: Array[Array[Float]], listCol: String = "ivf_list"): DataFrame =
    df.withColumn(listCol,
      graft.functions.SketchExpressions.ivf_assign(col(vecCol), cents))

  /** IVF search: probe the nProbe closest centroid lists, exact within. */
  def ivfTopK(df: DataFrame, vecCol: String, idCol: String,
      query: Array[Float], k: Int, cents: Array[Array[Float]],
      nProbe: Int = 4): DataFrame = {
    // rank centroids by similarity to the query (the one cosine
    // definition — an inline copy could silently diverge)
    val bysim = cents.indices.sortBy(c => -cosineArrays(query, cents(c)))
      .take(nProbe)
    val assigned = withIvfList(df, vecCol, cents)
    bruteTopK(assigned.filter(col("ivf_list").isin(bysim: _*)),
      vecCol, idCol, query, k)
  }
}
