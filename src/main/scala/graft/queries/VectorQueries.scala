package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.Column
import QueryDef.{table, BoundedSort}

/** Embedding-column operators over `embeddings` (builder-prompt surface:
  * similarity search + embedding near-dup). Brute-force cosine is the
  * verifiable baseline; the LSH and IVF scale paths (graft.ops.Ann) are
  * themselves oracle-checked (q31, q44) — their deterministic
  * hyperplanes / stride centroids are reproducible in SQL.
  */
object VectorQueries {

  /** codegen'd float dot product — sequential double fold, deterministic. */
  private def dot(a: Column, b: Column): Column =
    graft.functions.VectorExpressions.dot_f(a, b)

  private def norm(a: Column): Column = sqrt(dot(a, a))

  val defs: Seq[QueryDef] = Seq(
    // ---- brute-force cosine top-k vs a fixed query vector --------------
    QueryDef(
      "q26_ann_brute",
      (s, dir) => {
        import s.implicits._
        val emb = table(s, dir, "embeddings")
        val q = emb.filter($"vec_id" === 1)
          .select($"embedding".as("qe"))
        emb.filter($"vec_id" =!= 1)
          .crossJoin(broadcast(q))
          .select($"vec_id",
            round(dot($"embedding", $"qe") / (norm($"embedding") * norm($"qe")), 5)
              .as("sim"))
          .orderBy($"sim".desc, $"vec_id")
          .limit(10)
      },
      Some("""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 1),
        pairs AS (
          SELECT e.vec_id,
            CAST(e.embedding[t.i] AS DOUBLE) AS ev,
            CAST(q.qe[t.i] AS DOUBLE) AS qv
          FROM embeddings e CROSS JOIN q
          CROSS JOIN generate_series(1, 64) t(i)
          WHERE e.vec_id <> 1),
        sims AS (
          SELECT vec_id,
            ROUND(SUM(ev * qv) / (SQRT(SUM(ev * ev)) * SQRT(SUM(qv * qv))), 5) AS sim
          FROM pairs GROUP BY vec_id)
        SELECT vec_id, sim FROM sims
        ORDER BY sim DESC, vec_id LIMIT 10""")),

    // ---- embedding near-dup pairs (banded hyperplane-LSH blocking) -----
    // The scale path IS the declared query: candidates come from an
    // equi-join on (band, bandSig) over a 24-bit md5-derived
    // sign-projection signature (6 bits × 4 bands), then exact cosine
    // verifies within buckets only — never an all-pairs or label-blocked
    // join. The oracle re-derives the identical hyperplanes from md5 hex
    // nibbles, rebuilds every signature, band, candidate set, and exact
    // cosine — certifying the whole LSH path (the q31 recipe).
    QueryDef(
      "q27_embedding_dedup",
      (s, dir) => {
        import s.implicits._
        graft.ops.Dedup.embeddingNearDups(table(s, dir, "embeddings"),
            "embedding", "vec_id", threshold = 0.4, bits = 24, bands = 4)
          .select($"id_a", $"id_b", round($"cosine", 5).as("cosine"))
          .orderBy($"id_a", $"id_b")
      },
      Some("""WITH planes AS (
          SELECT pp.p, jj.j,
            CASE WHEN substr(md5(pp.p || '_' || jj.j), 1, 1) >= '8'
              THEN -1.0 ELSE 1.0 END AS r
          FROM (SELECT unnest(range(24)) AS p) pp,
               (SELECT unnest(range(64)) AS j) jj),
        dots AS (
          SELECT e.vec_id, pl.p,
            SUM(CAST(e.embedding[pl.j + 1] AS DOUBLE) * pl.r) AS dot
          FROM embeddings e CROSS JOIN planes pl
          GROUP BY e.vec_id, pl.p),
        bandsigs AS (
          SELECT vec_id, p // 6 AS b,
            CAST(SUM(CASE WHEN dot >= 0 THEN 1 << (p % 6) ELSE 0 END)
              AS BIGINT) AS bsig
          FROM dots GROUP BY vec_id, p // 6),
        cand AS (
          SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
          FROM bandsigs a JOIN bandsigs b ON a.b = b.b AND a.bsig = b.bsig
          WHERE a.vec_id < b.vec_id),
        pairs AS (
          SELECT c.id_a, c.id_b,
            CAST(ea.embedding[t.i] AS DOUBLE) AS av,
            CAST(eb.embedding[t.i] AS DOUBLE) AS bv
          FROM cand c
          JOIN embeddings ea ON ea.vec_id = c.id_a
          JOIN embeddings eb ON eb.vec_id = c.id_b
          CROSS JOIN generate_series(1, 64) t(i)),
        sims AS (
          SELECT id_a, id_b,
            SUM(av * bv) / (SQRT(SUM(av * av)) * SQRT(SUM(bv * bv))) AS cosine
          FROM pairs GROUP BY id_a, id_b)
        SELECT id_a, id_b, ROUND(cosine, 5) AS cosine FROM sims
        WHERE cosine >= 0.4
        ORDER BY id_a, id_b""")),

    // ---- IVF ANN: stride centroids -> nearest-list assignment ->
    // probe the 2 closest lists -> exact top-k within ------------------
    // Centroids are a deterministic stride sample (vec_id % stride = 0,
    // first nLists by id), so the oracle rebuilds the identical coarse
    // quantizer, re-derives every list assignment (argmax cosine,
    // lowest-index tie-break), the probe set, and the exact top-k —
    // certifying the whole IVF path, not just its output shape.
    QueryDef(
      "q44_ann_ivf",
      (s, dir) => {
        import s.implicits._
        val emb = table(s, dir, "embeddings")
        val query = graft.util.CollectCapped(
          emb.filter($"vec_id" === 2).select($"embedding"), 1,
          "single query vector")(0).getSeq[Float](0).toArray
        val cents = graft.ops.Ann.ivfCentroids(emb, "embedding", "vec_id",
          nLists = 8)
        graft.ops.Ann.ivfTopK(emb.filter($"vec_id" =!= 2), "embedding",
            "vec_id", query, k = 10, cents, nProbe = 2)
          .select($"vec_id", round($"sim", 5).as("sim"))
      },
      Some("""WITH params AS (
          SELECT GREATEST(1, COUNT(*) // 8) AS stride FROM embeddings),
        cents AS (
          SELECT ROW_NUMBER() OVER (ORDER BY e.vec_id) - 1 AS c,
            e.embedding AS cv
          FROM embeddings e, params p WHERE e.vec_id % p.stride = 0
          ORDER BY e.vec_id LIMIT 8),
        q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 2),
        csim AS (
          SELECT c.c,
            SUM(CAST(q.qv[t.i] AS DOUBLE) * CAST(c.cv[t.i] AS DOUBLE)) /
              (SQRT(SUM(CAST(q.qv[t.i] AS DOUBLE) * CAST(q.qv[t.i] AS DOUBLE))) *
               SQRT(SUM(CAST(c.cv[t.i] AS DOUBLE) * CAST(c.cv[t.i] AS DOUBLE)))) AS sim
          FROM cents c CROSS JOIN q CROSS JOIN generate_series(1, 64) t(i)
          GROUP BY c.c),
        probes AS (SELECT c FROM csim ORDER BY sim DESC, c LIMIT 2),
        vsim AS (
          SELECT e.vec_id, c.c,
            SUM(CAST(e.embedding[t.i] AS DOUBLE) * CAST(c.cv[t.i] AS DOUBLE)) /
              (SQRT(SUM(CAST(e.embedding[t.i] AS DOUBLE) * CAST(e.embedding[t.i] AS DOUBLE))) *
               SQRT(SUM(CAST(c.cv[t.i] AS DOUBLE) * CAST(c.cv[t.i] AS DOUBLE)))) AS sim
          FROM embeddings e CROSS JOIN cents c
          CROSS JOIN generate_series(1, 64) t(i)
          GROUP BY e.vec_id, c.c),
        assigned AS (
          SELECT vec_id, c FROM (
            SELECT vec_id, c,
              ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, c) AS rn
            FROM vsim) t WHERE rn = 1),
        cand AS (
          SELECT a.vec_id FROM assigned a JOIN probes p ON a.c = p.c
          WHERE a.vec_id <> 2),
        pairs AS (
          SELECT e.vec_id,
            CAST(e.embedding[t.i] AS DOUBLE) AS ev,
            CAST(q.qv[t.i] AS DOUBLE) AS qv2
          FROM embeddings e JOIN cand ca ON e.vec_id = ca.vec_id
          CROSS JOIN q CROSS JOIN generate_series(1, 64) t(i)),
        sims AS (
          SELECT vec_id,
            SUM(ev * qv2) / (SQRT(SUM(ev * ev)) * SQRT(SUM(qv2 * qv2))) AS sim
          FROM pairs GROUP BY vec_id),
        topk AS (
          SELECT vec_id, sim FROM sims ORDER BY sim DESC, vec_id LIMIT 10)
        SELECT vec_id, ROUND(sim, 5) AS sim FROM topk
        ORDER BY topk.sim DESC, vec_id""")),

    // ---- batch retrieval: exact top-k for every query vector at once --
    // One corpus scan serves the whole query batch (queries broadcast);
    // per-query top-k via the bounded-heap TopK aggregate — no window,
    // no corpus×queries shuffle. The oracle recomputes every pair and
    // ranks with a window.
    QueryDef(
      "q45_ann_batch",
      (s, dir) => {
        import s.implicits._
        val emb = table(s, dir, "embeddings")
        graft.ops.Ann.bruteTopKBatch(
            emb.filter($"vec_id" >= 10), emb.filter($"vec_id" < 10),
            "embedding", "vec_id", "vec_id", "embedding", k = 5)
          .select($"qid", $"rank", $"id", round($"sim", 5).as("sim"))
          .sortBounded($"qid", $"rank")
      },
      Some("""WITH q AS (
          SELECT vec_id AS qid, embedding AS qv FROM embeddings
          WHERE vec_id < 10),
        c AS (
          SELECT vec_id AS id, embedding AS cv FROM embeddings
          WHERE vec_id >= 10),
        pairs AS (
          SELECT q.qid, c.id,
            SUM(CAST(c.cv[t.i] AS DOUBLE) * CAST(q.qv[t.i] AS DOUBLE)) /
              (SQRT(SUM(CAST(c.cv[t.i] AS DOUBLE) * CAST(c.cv[t.i] AS DOUBLE))) *
               SQRT(SUM(CAST(q.qv[t.i] AS DOUBLE) * CAST(q.qv[t.i] AS DOUBLE)))) AS sim
          FROM c CROSS JOIN q CROSS JOIN generate_series(1, 64) t(i)
          GROUP BY q.qid, c.id),
        ranked AS (
          SELECT qid, id, sim, CAST(ROW_NUMBER() OVER (
            PARTITION BY qid ORDER BY sim DESC, id) AS INT) AS rank
          FROM pairs)
        SELECT qid, rank, id, ROUND(sim, 5) AS sim FROM ranked
        WHERE rank <= 5 ORDER BY qid, rank""")),

    // ---- hard-negative mining (round 7) --------------------------------
    // Contrastive-training negatives: per query, the top-5 most-similar
    // corpus vectors EXCLUDING self and near-duplicates (cosine >=
    // 0.35 on this data — the false-negative guard; production uses
    // ~0.95+ on real embeddings). Query batch broadcasts, cosine and
    // both exclusions fuse into the corpus scan, bounded-heap TopK
    // ranks — no sort of the corpus, no shuffle of non-survivors. The
    // oracle replays the full scored product with the same double
    // arithmetic and certifies the exclusion boundary pre-rounding.
    QueryDef(
      "q100_hard_negatives",
      (s, dir) => {
        import s.implicits._
        val emb = table(s, dir, "embeddings")
        graft.ops.Ann.hardNegatives(
            emb, emb.filter($"vec_id" < 10),
            "embedding", "vec_id", "vec_id", "embedding",
            k = 5, dupCeil = 0.35)
          .select($"qid", $"rank", $"id", round($"sim", 5).as("sim"))
          .sortBounded($"qid", $"rank")
      },
      Some("""WITH q AS (
          SELECT vec_id AS qid, embedding AS qv FROM embeddings
          WHERE vec_id < 10),
        pairs AS (
          SELECT q.qid, e.vec_id AS id,
            SUM(CAST(e.embedding[t.i] AS DOUBLE) * CAST(q.qv[t.i] AS DOUBLE)) /
              (SQRT(SUM(CAST(e.embedding[t.i] AS DOUBLE) * CAST(e.embedding[t.i] AS DOUBLE))) *
               SQRT(SUM(CAST(q.qv[t.i] AS DOUBLE) * CAST(q.qv[t.i] AS DOUBLE)))) AS sim
          FROM embeddings e CROSS JOIN q
          CROSS JOIN generate_series(1, 64) t(i)
          WHERE e.vec_id <> q.qid
          GROUP BY q.qid, e.vec_id),
        ranked AS (
          SELECT qid, id, sim, CAST(ROW_NUMBER() OVER (
            PARTITION BY qid ORDER BY sim DESC, id) AS INT) AS rank
          FROM pairs WHERE sim < 0.35)
        SELECT qid, rank, id, ROUND(sim, 5) AS sim FROM ranked
        WHERE rank <= 5 ORDER BY qid, rank""")),

    // ---- k-means clustering (2 Lloyd passes, fixed-point update) -------
    // Init = the q44 stride sample; assignment = codegen argmax over the
    // broadcast centroid table; update = exact integer fixed-point means
    // (see graft.ops.KMeans's determinism contract) so the oracle can
    // re-derive BOTH passes bit-for-bit: every list assignment, the
    // updated centroids, and the final membership counts. cent_d0 pins
    // the update arithmetic itself (an exact integer sum ratio), not
    // just the discrete assignment.
    QueryDef(
      "q51_kmeans",
      (s, dir) => {
        import s.implicits._
        val emb = table(s, dir, "embeddings")
        val (assigned, cents) =
          graft.ops.KMeans.kmeans(emb, "embedding", "vec_id", k = 8, iters = 2)
        val centsDf = s.createDataFrame(
          cents.map { case (c, d) => (c, d(0)) }).toDF("cluster", "d0")
        assigned.groupBy($"cluster").agg(count(lit(1)).as("n_members"))
          .join(broadcast(centsDf), Seq("cluster"))
          .select($"cluster", $"n_members", round($"d0", 6).as("cent_d0"))
          .sortBounded($"cluster")
      },
      Some(kmeansCte + raw"""
        SELECT a.c AS cluster, COUNT(*) AS n_members,
          ROUND(MAX(c1.cv[1]), 6) AS cent_d0
        FROM assign1 a JOIN cents1 c1 ON a.c = c1.c
        GROUP BY a.c ORDER BY a.c""")),

    // ---- SemDeDup: cluster-blocked semantic near-dup pairs -------------
    // Same-cluster pairs above the cosine threshold (Abbas et al. 2023):
    // the pairwise work is bounded by cluster size, and k grows with the
    // corpus, so — unlike blocking on a data attribute — the block size
    // is a tunable of the algorithm, not of the data. The oracle replays
    // the full clustering and then scores every same-cluster pair
    // exactly.
    QueryDef(
      "q53_semdedup",
      (s, dir) => {
        import s.implicits._
        val emb = table(s, dir, "embeddings")
        val (assigned, _) =
          graft.ops.KMeans.kmeans(emb, "embedding", "vec_id", k = 8, iters = 2)
        graft.ops.KMeans.semDedupPairs(assigned, "embedding", "vec_id",
            threshold = 0.45)
          .select($"cluster", $"id_a", $"id_b", round($"cosine", 5).as("cosine"))
          .orderBy($"id_a", $"id_b")
      },
      Some(kmeansCte + raw""",
        prs AS (
          SELECT a1.c AS cluster, a1.vec_id AS id_a, a2.vec_id AS id_b
          FROM assign1 a1 JOIN assign1 a2
            ON a1.c = a2.c AND a1.vec_id < a2.vec_id),
        psims AS (
          SELECT p.cluster, p.id_a, p.id_b,
            SUM(CAST(ea.embedding[t.i] AS DOUBLE) *
                CAST(eb.embedding[t.i] AS DOUBLE)) /
              (SQRT(SUM(CAST(ea.embedding[t.i] AS DOUBLE) *
                        CAST(ea.embedding[t.i] AS DOUBLE))) *
               SQRT(SUM(CAST(eb.embedding[t.i] AS DOUBLE) *
                        CAST(eb.embedding[t.i] AS DOUBLE)))) AS cosine
          FROM prs p
          JOIN embeddings ea ON ea.vec_id = p.id_a
          JOIN embeddings eb ON eb.vec_id = p.id_b
          CROSS JOIN generate_series(1, 64) t(i)
          GROUP BY p.cluster, p.id_a, p.id_b)
        SELECT cluster, id_a, id_b, ROUND(cosine, 5) AS cosine FROM psims
        WHERE cosine >= 0.45 ORDER BY id_a, id_b""")),

    // ---- scalar-quantized (int8) ANN with exact rescoring --------------
    // The memory-bound scale path for vector search: per-dimension
    // min/max over the corpus define an 8-bit uniform quantizer (the
    // faiss SQ8 recipe), candidates rank by cosine over DEQUANTIZED
    // codes, and the final answer rescores the survivors exactly. At
    // 100 TB the quantized corpus is 4× smaller than float32 — the scan
    // and cache-residency win — while exact rescoring of k survivors
    // removes the quantization bias from the reported scores. The
    // quantizer itself is a bounded model (dims × {lo,hi}, 64 rows
    // here), the same driver-side-model contract as IVF centroids; the
    // rescoring join is a broadcast of k=10 ids. The oracle re-derives
    // the quantizer, every code, both similarity passes, and the
    // rounding contract (round-half-up on nonnegative scaled offsets is
    // identical in both engines).
    QueryDef(
      "q59_ann_sq8",
      (s, dir) => {
        import s.implicits._
        val emb = table(s, dir, "embeddings")
        // bounded quantizer model: one (lo, hi) pair per dimension
        val dims = graft.util.CollectCapped(
          emb.select(posexplode($"embedding").as(Seq("i", "v")))
            .groupBy($"i").agg(min($"v").as("lo"), max($"v").as("hi"))
            .orderBy($"i"), 65536, "per-dimension quantizer ranges")
        val lo = dims.map(_.getFloat(1).toDouble)
        val hi = dims.map(_.getFloat(2).toDouble)
        // the query vector is one row (the q44 precedent); dequantize it
        // driver-side with the kernel's own arithmetic
        val qraw = graft.util.CollectCapped(
          emb.filter($"vec_id" === 3).select($"embedding"), 1,
          "single query vector")(0).getSeq[Float](0).toArray
        val qdq = Array.tabulate(qraw.length)(i =>
          graft.functions.SketchEval.sq8Dequant(qraw(i).toDouble, lo(i), hi(i)))
        // candidate scan: one fused codegen pass (dequantize + cosine),
        // bounded top-10 via TakeOrdered on the rounded similarity
        val top = emb.filter($"vec_id" =!= 3)
          .select($"vec_id",
            round(graft.functions.SketchExpressions
              .sq8_cosine($"embedding", lo, hi, qdq), 5).as("sim_sq8"))
          .orderBy($"sim_sq8".desc, $"vec_id")
          .limit(10)
        // exact rescore of the 10 survivors (broadcast of the id set)
        val qlit = typedlit(qraw)
        def dotF(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
          graft.functions.VectorExpressions.dot_f(a, b)
        broadcast(top).join(emb, Seq("vec_id"))
          .select($"vec_id", $"sim_sq8",
            round(dotF($"embedding", qlit) /
              (sqrt(dotF($"embedding", $"embedding")) *
                sqrt(dotF(qlit, qlit))), 5).as("sim_exact"))
          .sortBounded($"sim_sq8".desc, $"vec_id")
      },
      Some("""WITH dims AS (
          SELECT t.i, MIN(CAST(e.embedding[t.i] AS DOUBLE)) AS lo,
            MAX(CAST(e.embedding[t.i] AS DOUBLE)) AS hi
          FROM embeddings e CROSS JOIN generate_series(1, 64) t(i)
          GROUP BY t.i),
        dq AS (
          SELECT e.vec_id, d.i,
            CAST(e.embedding[d.i] AS DOUBLE) AS x,
            CASE WHEN d.hi = d.lo THEN d.lo ELSE
              d.lo + ROUND((CAST(e.embedding[d.i] AS DOUBLE) - d.lo)
                / (d.hi - d.lo) * 255.0)
                / 255.0 * (d.hi - d.lo) END AS xq
          FROM embeddings e JOIN dims d ON true),
        q AS (SELECT i, x AS qx, xq AS qxq FROM dq WHERE vec_id = 3),
        sims AS (
          SELECT dq.vec_id,
            ROUND(SUM(dq.xq * q.qxq) /
              (SQRT(SUM(dq.xq * dq.xq)) * SQRT(SUM(q.qxq * q.qxq))), 5)
              AS sim_sq8,
            SUM(dq.x * q.qx) /
              (SQRT(SUM(dq.x * dq.x)) * SQRT(SUM(q.qx * q.qx)))
              AS exact_raw
          FROM dq JOIN q USING (i) WHERE dq.vec_id <> 3
          GROUP BY dq.vec_id),
        top AS (
          SELECT vec_id, sim_sq8, ROUND(exact_raw, 5) AS sim_exact
          FROM sims ORDER BY sim_sq8 DESC, vec_id LIMIT 10)
        SELECT vec_id, sim_sq8, sim_exact FROM top
        ORDER BY sim_sq8 DESC, vec_id""")),

    // ---- SSL-prototypes pruning (embedding-based data pruning) ----------
    // Sorscher et al. 2022: within each k-means cluster, rank by cosine
    // to the centroid and mark the most prototypical fifth prunable —
    // prototypical points are the most redundant with their cluster's
    // mass. Reuses the q51 clustering (same determinism contract); the
    // score is a codegen expression carrying the centroid table, the
    // rank window and size aggregate are cluster-keyed, and the prune
    // quota is exact integer division. The oracle replays the full
    // clustering, every centroid cosine, the per-cluster rank, and the
    // quota cut.
    QueryDef(
      "q65_proto_prune",
      (s, dir) => {
        import s.implicits._
        val emb = table(s, dir, "embeddings")
        val (assigned, cents) =
          graft.ops.KMeans.kmeans(emb, "embedding", "vec_id", k = 8, iters = 2)
        graft.ops.KMeans.protoPrune(assigned, cents, "embedding", "vec_id",
            pruneDiv = 5)
          .select($"vec_id", $"cluster", round($"proto", 5).as("proto"),
            $"rk", $"pruned")
          .orderBy($"vec_id")
      },
      Some(kmeansCte + raw""",
        csz AS (SELECT c, COUNT(*) AS n FROM assign1 GROUP BY c),
        pr AS (
          SELECT a.vec_id, a.c,
            SUM(CAST(e.embedding[t.i] AS DOUBLE) * c1.cv[t.i]) /
              (SQRT(SUM(CAST(e.embedding[t.i] AS DOUBLE) *
                        CAST(e.embedding[t.i] AS DOUBLE))) *
               SQRT(SUM(c1.cv[t.i] * c1.cv[t.i]))) AS proto
          FROM assign1 a JOIN embeddings e USING (vec_id)
          JOIN cents1 c1 ON a.c = c1.c
          CROSS JOIN generate_series(1, 64) t(i)
          GROUP BY a.vec_id, a.c),
        rnk AS (
          SELECT vec_id, c, proto, CAST(ROW_NUMBER() OVER (
            PARTITION BY c ORDER BY ROUND(proto, 6) DESC, vec_id) AS INT) AS rk
          FROM pr)
        SELECT r.vec_id, r.c AS cluster, ROUND(r.proto, 5) AS proto, r.rk,
          (r.rk <= s.n // 5) AS pruned
        FROM rnk r JOIN csz s USING (c) ORDER BY r.vec_id""")),

    // ---- product-quantization ANN with exact rescoring ------------------
    // PQ (Jégou et al. 2011): 4 subspaces × 16 dims, each with its own
    // 16-entry codebook (stride init + one exact fixed-point Lloyd
    // refinement — the q51 determinism contract per subspace); vectors
    // encode as 4 small codes, the scan ranks by ADC cosine (per-query
    // dot/norm lookup tables, m table reads + m adds per row — no
    // multiplies in the hot loop), and the top-10 survivors rescore
    // exactly (the q59 recipe). At 100 TB the coded corpus is 32×
    // smaller than float32 — the scan-bandwidth win — while the
    // codebooks and LUTs stay bounded driver-side models. The oracle
    // re-derives all four codebooks (init, assignment, fixed-point
    // update with empty-code fallback), every code, the ADC arithmetic,
    // and both similarity passes.
    QueryDef(
      "q63_ann_pq",
      (s, dir) => {
        import s.implicits._
        val emb = table(s, dir, "embeddings")
        val cb = graft.ops.Pq.trainCodebooks(emb, "embedding", "vec_id",
          m = 4, k = 16, dims = 64)
        // AQE off for the tiny query-vector fetch too (same rationale as
        // the training collects): a one-row filter scan gains nothing
        // from adaptive staging
        val qraw = graft.util.AqeOff(s)(graft.util.CollectCapped(
            emb.filter($"vec_id" === 4).select($"embedding"), 1,
            "single query vector")(0).getSeq[Float](0).toArray)
        val top = emb.filter($"vec_id" =!= 4)
          .select($"vec_id",
            round(graft.ops.Pq.adcCosine(
              graft.functions.SketchExpressions.pq_encode($"embedding", cb),
              cb, qraw), 5).as("sim_pq"))
          .orderBy($"sim_pq".desc, $"vec_id")
          .limit(10)
        val qlit = typedlit(qraw)
        broadcast(top).join(emb, Seq("vec_id"))
          .select($"vec_id", $"sim_pq",
            round(dot($"embedding", qlit) /
              (sqrt(dot($"embedding", $"embedding")) * sqrt(dot(qlit, qlit))),
              5).as("sim_exact"))
          .sortBounded($"sim_pq".desc, $"vec_id")
      },
      Some(pqOracle)),

    // ---- ANN recall@k evaluation harness --------------------------------
    // The index-quality measurement every ANN deployment needs: for a
    // sampled query batch, recall@10 of the LSH candidate path (q31/q45
    // machinery, 8-bit signatures + 1-bit multi-probe) against the
    // brute-force ground truth. Scale shape: ground truth is the q45
    // bounded-heap batch (one corpus scan serves all queries — brute
    // force is inherent to measuring recall, which is why it runs on a
    // SAMPLED batch); the approximate side is the q31 equi-join on
    // exploded probe signatures (no corpus×queries product); the overlap
    // count is a (qid, id)-keyed join of two ≤k·|queries| row sets. The
    // oracle replays the hyperplanes, signatures, probe rule, both
    // top-10s, and the overlap arithmetic.
    QueryDef(
      "q64_ann_recall",
      (s, dir) => {
        import s.implicits._
        val emb = table(s, dir, "embeddings")
        val queries = emb.filter($"vec_id" < 10)
        val corpus = emb.filter($"vec_id" >= 10)
        val truth = graft.ops.Ann.bruteTopKBatch(corpus, queries,
            "embedding", "vec_id", "vec_id", "embedding", k = 10)
          .select($"qid", $"id")
        val approx = graft.ops.Ann.lshTopKBatch(corpus, queries,
            "embedding", "vec_id", "vec_id", "embedding", k = 10, bits = 8)
          .select($"qid", $"id")
        val na = approx.groupBy($"qid").agg(count(lit(1)).as("n_approx"))
        truth
          .join(approx.withColumn("__hit", lit(1L)), Seq("qid", "id"), "left")
          .groupBy($"qid")
          .agg(count(lit(1)).as("n_true"),
            sum(coalesce($"__hit", lit(0L))).as("n_overlap"))
          .join(na, Seq("qid"), "left")
          .select($"qid", $"n_true",
            coalesce($"n_approx", lit(0L)).as("n_approx"), $"n_overlap",
            round($"n_overlap".cast("double") / $"n_true", 6).as("recall"))
          .sortBounded($"qid")
      },
      Some("""WITH planes AS (
          SELECT pp.p, jj.j,
            CASE WHEN substr(md5(pp.p || '_' || jj.j), 1, 1) >= '8'
              THEN -1.0 ELSE 1.0 END AS r
          FROM (SELECT unnest(range(8)) AS p) pp,
               (SELECT unnest(range(64)) AS j) jj),
        dots AS (
          SELECT e.vec_id, pl.p,
            SUM(CAST(e.embedding[pl.j + 1] AS DOUBLE) * pl.r) AS dot
          FROM embeddings e CROSS JOIN planes pl
          GROUP BY e.vec_id, pl.p),
        sigs AS (
          SELECT vec_id,
            CAST(SUM(CASE WHEN dot >= 0 THEN 1 << p ELSE 0 END) AS BIGINT) AS sig
          FROM dots GROUP BY vec_id),
        pairs AS (
          SELECT q.vec_id AS qid, c.vec_id AS id,
            SUM(CAST(c.embedding[t.i] AS DOUBLE) * CAST(q.embedding[t.i] AS DOUBLE)) /
              (SQRT(SUM(CAST(c.embedding[t.i] AS DOUBLE) * CAST(c.embedding[t.i] AS DOUBLE))) *
               SQRT(SUM(CAST(q.embedding[t.i] AS DOUBLE) * CAST(q.embedding[t.i] AS DOUBLE)))) AS sim
          FROM embeddings c CROSS JOIN embeddings q
          CROSS JOIN generate_series(1, 64) t(i)
          WHERE c.vec_id >= 10 AND q.vec_id < 10
          GROUP BY q.vec_id, c.vec_id),
        truth AS (
          SELECT qid, id FROM (
            SELECT qid, id, ROW_NUMBER() OVER (
              PARTITION BY qid ORDER BY sim DESC, id) AS rk
            FROM pairs) t WHERE rk <= 10),
        cand AS (
          SELECT qs.vec_id AS qid, cs.vec_id AS id
          FROM sigs qs JOIN sigs cs
            ON bit_count(CAST(xor(qs.sig, cs.sig) AS BIGINT)) <= 1
          WHERE qs.vec_id < 10 AND cs.vec_id >= 10),
        apx AS (
          SELECT qid, id FROM (
            SELECT p.qid, p.id, ROW_NUMBER() OVER (
              PARTITION BY p.qid ORDER BY p.sim DESC, p.id) AS rk
            FROM pairs p JOIN cand USING (qid, id)) t WHERE rk <= 10),
        na AS (SELECT qid, COUNT(*) AS n_approx FROM apx GROUP BY qid),
        ov AS (
          SELECT t.qid, COUNT(*) AS n_true,
            CAST(SUM(CASE WHEN a.id IS NOT NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS n_overlap
          FROM truth t LEFT JOIN apx a ON t.qid = a.qid AND t.id = a.id
          GROUP BY t.qid)
        SELECT ov.qid, ov.n_true, COALESCE(na.n_approx, 0) AS n_approx,
          ov.n_overlap,
          ROUND(CAST(ov.n_overlap AS DOUBLE) / ov.n_true, 6) AS recall
        FROM ov LEFT JOIN na ON ov.qid = na.qid ORDER BY ov.qid""")),

    // ---- PCA by power iteration (dominant embedding direction) ----------
    // Embedding-space whitening / dominant-direction analysis at corpus
    // scale: ONE map-side-combinable aggregation builds the exact
    // fixed-point second-moment triangle (17 KB of state regardless of
    // corpus size), 24 power-iteration rounds run on the driver in
    // integer fixed point (BIGINT dot products are order-independent, so
    // the oracle's recursive CTE replays every round bit-for-bit), and
    // the per-vector PC1 projection is a zero-shuffle codegen scan with
    // the eigenvector as a 64-element literal. Max-abs normalization
    // keeps the per-round state integer-exact (power iteration converges
    // under any fixed normalization).
    QueryDef(
      "q88_pca_power",
      (s, dir) => {
        import s.implicits._
        graft.ops.Pca.pc1Scores(table(s, dir, "embeddings"),
          "embedding", "vec_id", dims = 64, iters = 24)
      },
      Some(raw"""WITH RECURSIVE q AS MATERIALIZED (SELECT vec_id, j,
            CAST(ROUND(CAST(x AS DOUBLE) * 1000000) AS BIGINT) AS qv
          FROM (SELECT vec_id, unnest(embedding) AS x,
              generate_subscripts(embedding, 1) AS j FROM embeddings)),
        nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM embeddings),
        sj AS MATERIALIZED (SELECT j, CAST(SUM(qv) AS BIGINT) AS s
          FROM q GROUP BY j),
        sp AS MATERIALIZED (SELECT a.j AS j, b.j AS k,
            CAST(SUM(a.qv * b.qv) AS BIGINT) AS sjk
          FROM q a JOIN q b ON a.vec_id = b.vec_id GROUP BY a.j, b.j),
        cq AS MATERIALIZED (SELECT sp.j, sp.k,
            CAST(ROUND((CAST(sjk AS DOUBLE) / CAST(n AS DOUBLE)
                / 1000000000000.0
              - (CAST(s1.s AS DOUBLE) / CAST(n AS DOUBLE) / 1000000.0)
                * (CAST(s2.s AS DOUBLE) / CAST(n AS DOUBLE) / 1000000.0))
              * 1000000) AS BIGINT) AS cv
          FROM sp, nn, sj s1, sj s2 WHERE s1.j = sp.j AND s2.j = sp.k),
        pv AS (
          SELECT 0 AS it, j, CAST(1000000 AS BIGINT) AS v
          FROM (SELECT DISTINCT j FROM sj)
          UNION ALL
          SELECT it, j, CAST(FLOOR(CAST(w AS DOUBLE) * 1000000.0
              / CAST(mx AS DOUBLE)) AS BIGINT) AS v
          FROM (SELECT it, j, w, MAX(ABS(w)) OVER () AS mx
            FROM (SELECT p.it + 1 AS it, c.j AS j,
                CAST(SUM(c.cv * p.v) AS BIGINT) AS w
              FROM pv p JOIN cq c ON c.k = p.j
              WHERE p.it < 24
              GROUP BY 1, 2) w1) w2),
        vf AS (SELECT j, v FROM pv WHERE it = 24)
        SELECT q.vec_id, CAST(SUM(q.qv * vf.v) AS BIGINT) AS pc1_fixed
        FROM q JOIN vf ON q.j = vf.j GROUP BY q.vec_id""")),

    // ---- all-but-the-top embedding postprocess (ABTT) -------------------
    // Mu & Viswanath 2018: subtract the corpus mean and the dominant
    // direction from every embedding — the standard fix for anisotropic
    // embedding spaces before cosine retrieval. Composes q88's trainer:
    // the SAME one-job moment triangle yields mean and covariance, the
    // eigenvector trains driver-side, and the apply is one zero-shuffle
    // scan emitting the centered PC1 score and residual squared norm as
    // exact BIGINTs (floor-quantized component removal, so the oracle
    // replays training AND application bit-for-bit).
    QueryDef(
      "q89_abtt",
      (s, dir) => {
        import s.implicits._
        graft.ops.Pca.abttStats(table(s, dir, "embeddings"),
          "embedding", "vec_id", dims = 64, iters = 24)
      },
      Some(raw"""WITH RECURSIVE q AS MATERIALIZED (SELECT vec_id, j,
            CAST(ROUND(CAST(x AS DOUBLE) * 1000000) AS BIGINT) AS qv
          FROM (SELECT vec_id, unnest(embedding) AS x,
              generate_subscripts(embedding, 1) AS j FROM embeddings)),
        nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM embeddings),
        sj AS MATERIALIZED (SELECT j, CAST(SUM(qv) AS BIGINT) AS s
          FROM q GROUP BY j),
        sp AS MATERIALIZED (SELECT a.j AS j, b.j AS k,
            CAST(SUM(a.qv * b.qv) AS BIGINT) AS sjk
          FROM q a JOIN q b ON a.vec_id = b.vec_id GROUP BY a.j, b.j),
        cq AS MATERIALIZED (SELECT sp.j, sp.k,
            CAST(ROUND((CAST(sjk AS DOUBLE) / CAST(n AS DOUBLE)
                / 1000000000000.0
              - (CAST(s1.s AS DOUBLE) / CAST(n AS DOUBLE) / 1000000.0)
                * (CAST(s2.s AS DOUBLE) / CAST(n AS DOUBLE) / 1000000.0))
              * 1000000) AS BIGINT) AS cv
          FROM sp, nn, sj s1, sj s2 WHERE s1.j = sp.j AND s2.j = sp.k),
        pv AS (
          SELECT 0 AS it, j, CAST(1000000 AS BIGINT) AS v
          FROM (SELECT DISTINCT j FROM sj)
          UNION ALL
          SELECT it, j, CAST(FLOOR(CAST(w AS DOUBLE) * 1000000.0
              / CAST(mx AS DOUBLE)) AS BIGINT) AS v
          FROM (SELECT it, j, w, MAX(ABS(w)) OVER () AS mx
            FROM (SELECT p.it + 1 AS it, c.j AS j,
                CAST(SUM(c.cv * p.v) AS BIGINT) AS w
              FROM pv p JOIN cq c ON c.k = p.j
              WHERE p.it < 24
              GROUP BY 1, 2) w1) w2),
        vf AS MATERIALIZED (SELECT j, v FROM pv WHERE it = 24),
        mu AS (SELECT j, CAST(FLOOR(CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
            AS BIGINT) AS mu
          FROM sj, nn),
        vv AS (SELECT CAST(SUM(v * v) AS BIGINT) AS vv FROM vf),
        qc AS MATERIALIZED (SELECT q.vec_id, q.j, q.qv - mu.mu AS c
          FROM q JOIN mu USING (j)),
        pp AS MATERIALIZED (SELECT vec_id,
            CAST(SUM(qc.c * vf.v) AS BIGINT) AS p
          FROM qc JOIN vf USING (j) GROUP BY vec_id),
        res AS (SELECT qc.vec_id,
            CAST(SUM((qc.c - CAST(FLOOR(CAST(pp.p AS DOUBLE)
                * CAST(vf.v AS DOUBLE) / CAST(vv.vv AS DOUBLE)) AS BIGINT))
              * (qc.c - CAST(FLOOR(CAST(pp.p AS DOUBLE)
                * CAST(vf.v AS DOUBLE) / CAST(vv.vv AS DOUBLE)) AS BIGINT)))
              AS BIGINT) AS resid_norm2
          FROM qc JOIN vf USING (j) JOIN pp USING (vec_id) CROSS JOIN vv
          GROUP BY qc.vec_id)
        SELECT pp.vec_id, pp.p AS pc1_centered, res.resid_norm2
        FROM pp JOIN res USING (vec_id)""")),

    // ---- diagonal-Mahalanobis embedding outlier gate (round 7) ---------
    // The cheap OOD/garbage filter a pipeline runs before clustering or
    // ANN: per-dim z-score distance from the corpus distribution.
    // Composes q88's trainer — mean and per-dim variance are the FIRST
    // ROW and DIAGONAL of the same one-job 34 KB moment triangle — and
    // the apply is a zero-shuffle codegen scan with mu/var as d-element
    // literals. Double op order is pinned to the oracle (mu = s/n/1e6,
    // var = S_jj/n/1e12 - mu^2, per-row division by var); the 64-term
    // per-row sum differs between engines only in association order, and
    // round-6 absorbs that at these magnitudes.
    QueryDef(
      "q95_embed_outliers",
      (s, dir) => {
        import s.implicits._
        graft.ops.Pca.mahaScores(table(s, dir, "embeddings"),
          "embedding", "vec_id", dims = 64, threshold = 1.01)
          .orderBy($"vec_id")
      },
      Some(raw"""WITH q AS MATERIALIZED (SELECT vec_id, j,
            CAST(ROUND(CAST(x AS DOUBLE) * 1000000) AS BIGINT) AS qv
          FROM (SELECT vec_id, unnest(embedding) AS x,
              generate_subscripts(embedding, 1) AS j FROM embeddings)),
        nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM embeddings),
        mv AS (SELECT j,
            CAST(s AS DOUBLE) / CAST(n AS DOUBLE) / 1000000.0 AS mu,
            CAST(ss AS DOUBLE) / CAST(n AS DOUBLE) / 1000000000000.0
              - (CAST(s AS DOUBLE) / CAST(n AS DOUBLE) / 1000000.0)
                * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE) / 1000000.0) AS var
          FROM (SELECT j, CAST(SUM(qv) AS BIGINT) AS s,
              CAST(SUM(qv * qv) AS BIGINT) AS ss FROM q GROUP BY j), nn),
        d AS (SELECT q.vec_id,
            SUM((CAST(q.qv AS DOUBLE) / 1000000.0 - mv.mu)
              * (CAST(q.qv AS DOUBLE) / 1000000.0 - mv.mu) / mv.var) AS s2
          FROM q JOIN mv USING (j) GROUP BY q.vec_id)
        SELECT vec_id, ROUND(SQRT(s2 / 64.0), 6) AS maha,
          ROUND(SQRT(s2 / 64.0), 6) > 1.01 AS is_outlier
        FROM d ORDER BY vec_id""")),

    // ---- matryoshka truncation recall (round 8, fused round 10) --------
    // The dimension-budget question behind MRL-style embeddings: how
    // much top-10 retrieval quality survives if vectors are truncated
    // to their first d dims (d = 8/16/32) before search? Truth = full
    // 64-dim brute top-10 (the q64 harness). Round 10 fuses what was
    // four separate corpus passes (one bruteTopKBatch per tier + truth,
    // then three truth-vs-tier joins — pure job-count floor, 5.8× its
    // oracle at 0.79 s) into ONE: the scan projection emits all four
    // prefix-cosines per (query, doc) pair, a single bounded-heap TopK
    // keyed by (qid, tier) collapses them map-side (nothing shuffles
    // but partial heaps), and recall falls out of per-pair tier flags
    // — in-truth × in-tier products summed in one tiny aggregate, so
    // no truth self-join ever materializes (a self-join over the heap
    // output would re-run the corpus scan for both branches).
    // Output: one row per d with pooled recall.
    QueryDef(
      "q108_matryoshka",
      (s, dir) => {
        import s.implicits._
        val emb = table(s, dir, "embeddings")
        val queries = emb.filter($"vec_id" < 10)
        val corpus = emb.filter($"vec_id" >= 10)
        val tiers = Seq(8, 16, 32, 64)
        val scored = corpus
          .select($"vec_id".as("id"), $"embedding".as("__v"))
          .crossJoin(broadcast(
            queries.select($"vec_id".as("qid"), $"embedding".as("__q"))))
          .select($"qid", $"id", posexplode(graft.functions
            .VectorExpressions.prefix_cosines($"__v", $"__q", tiers)))
          .select($"qid", $"id",
            element_at(typedLit(tiers), $"pos" + 1).as("d"), $"col".as("sim"))
        val top = graft.ops.TopK.perGroup(scored, Seq("qid", "d"),
            Seq(($"sim", true), ($"id", false)), 10, "rank")
          .select($"qid", $"id", $"d")
        val flags = top.groupBy($"qid", $"id")
          .agg(tiers.map(d =>
            max(when($"d" === d, 1L).otherwise(0L)).as(s"f$d")).head,
            tiers.map(d =>
              max(when($"d" === d, 1L).otherwise(0L)).as(s"f$d")).tail: _*)
        val pooled = flags.agg(sum($"f64").as("nt"),
          sum($"f8" * $"f64").as("o8"), sum($"f16" * $"f64").as("o16"),
          sum($"f32" * $"f64").as("o32"))
        pooled
          .select(explode(array(Seq(8, 16, 32).map(d => struct(
            lit(d).as("d"), $"nt".as("n_true"),
            col(s"o$d").as("n_overlap"),
            round(col(s"o$d").cast("double") / $"nt", 6).as("recall")))
            : _*)).as("r"))
          .select($"r.d".as("d"), $"r.n_true".as("n_true"),
            $"r.n_overlap".as("n_overlap"), $"r.recall".as("recall"))
          .sortBounded($"d")
      },
      Some(raw"""WITH pairs AS (
          SELECT q.vec_id AS qid, c.vec_id AS id,
            SUM(CASE WHEN t.i <= 8 THEN CAST(c.embedding[t.i] AS DOUBLE)
              * CAST(q.embedding[t.i] AS DOUBLE) ELSE 0 END) AS d8,
            SUM(CASE WHEN t.i <= 8 THEN CAST(c.embedding[t.i] AS DOUBLE)
              * CAST(c.embedding[t.i] AS DOUBLE) ELSE 0 END) AS c8,
            SUM(CASE WHEN t.i <= 8 THEN CAST(q.embedding[t.i] AS DOUBLE)
              * CAST(q.embedding[t.i] AS DOUBLE) ELSE 0 END) AS q8,
            SUM(CASE WHEN t.i <= 16 THEN CAST(c.embedding[t.i] AS DOUBLE)
              * CAST(q.embedding[t.i] AS DOUBLE) ELSE 0 END) AS d16,
            SUM(CASE WHEN t.i <= 16 THEN CAST(c.embedding[t.i] AS DOUBLE)
              * CAST(c.embedding[t.i] AS DOUBLE) ELSE 0 END) AS c16,
            SUM(CASE WHEN t.i <= 16 THEN CAST(q.embedding[t.i] AS DOUBLE)
              * CAST(q.embedding[t.i] AS DOUBLE) ELSE 0 END) AS q16,
            SUM(CASE WHEN t.i <= 32 THEN CAST(c.embedding[t.i] AS DOUBLE)
              * CAST(q.embedding[t.i] AS DOUBLE) ELSE 0 END) AS d32,
            SUM(CASE WHEN t.i <= 32 THEN CAST(c.embedding[t.i] AS DOUBLE)
              * CAST(c.embedding[t.i] AS DOUBLE) ELSE 0 END) AS c32,
            SUM(CASE WHEN t.i <= 32 THEN CAST(q.embedding[t.i] AS DOUBLE)
              * CAST(q.embedding[t.i] AS DOUBLE) ELSE 0 END) AS q32,
            SUM(CAST(c.embedding[t.i] AS DOUBLE)
              * CAST(q.embedding[t.i] AS DOUBLE)) AS d64,
            SUM(CAST(c.embedding[t.i] AS DOUBLE)
              * CAST(c.embedding[t.i] AS DOUBLE)) AS c64,
            SUM(CAST(q.embedding[t.i] AS DOUBLE)
              * CAST(q.embedding[t.i] AS DOUBLE)) AS q64
          FROM embeddings c CROSS JOIN embeddings q
          CROSS JOIN generate_series(1, 64) t(i)
          WHERE c.vec_id >= 10 AND q.vec_id < 10
          GROUP BY q.vec_id, c.vec_id),
        truth AS (SELECT qid, id FROM (
            SELECT qid, id, ROW_NUMBER() OVER (PARTITION BY qid
              ORDER BY d64 / (SQRT(c64) * SQRT(q64)) DESC, id) AS rk
            FROM pairs) t WHERE rk <= 10),
        a8 AS (SELECT qid, id FROM (
            SELECT qid, id, ROW_NUMBER() OVER (PARTITION BY qid
              ORDER BY d8 / (SQRT(c8) * SQRT(q8)) DESC, id) AS rk
            FROM pairs) t WHERE rk <= 10),
        a16 AS (SELECT qid, id FROM (
            SELECT qid, id, ROW_NUMBER() OVER (PARTITION BY qid
              ORDER BY d16 / (SQRT(c16) * SQRT(q16)) DESC, id) AS rk
            FROM pairs) t WHERE rk <= 10),
        a32 AS (SELECT qid, id FROM (
            SELECT qid, id, ROW_NUMBER() OVER (PARTITION BY qid
              ORDER BY d32 / (SQRT(c32) * SQRT(q32)) DESC, id) AS rk
            FROM pairs) t WHERE rk <= 10),
        r8 AS (SELECT 8 AS d, COUNT(*) AS n_true,
            CAST(SUM(CASE WHEN a.id IS NOT NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS n_overlap
          FROM truth t LEFT JOIN a8 a ON t.qid = a.qid AND t.id = a.id),
        r16 AS (SELECT 16 AS d, COUNT(*) AS n_true,
            CAST(SUM(CASE WHEN a.id IS NOT NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS n_overlap
          FROM truth t LEFT JOIN a16 a ON t.qid = a.qid AND t.id = a.id),
        r32 AS (SELECT 32 AS d, COUNT(*) AS n_true,
            CAST(SUM(CASE WHEN a.id IS NOT NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS n_overlap
          FROM truth t LEFT JOIN a32 a ON t.qid = a.qid AND t.id = a.id),
        u AS (SELECT * FROM r8 UNION ALL SELECT * FROM r16
          UNION ALL SELECT * FROM r32)
        SELECT d, CAST(n_true AS BIGINT) AS n_true, n_overlap,
          ROUND(CAST(n_overlap AS DOUBLE) / n_true, 6) AS recall
        FROM u ORDER BY d""")
    ),

    // ---- silhouette cluster-quality report (round 8) -------------------
    // The measurement beside q51/q53: per cluster, the mean silhouette
    // of a deterministic sample (vec_id % 10 = 0) under cosine
    // dissimilarity — a(s) = mean distance to own cluster, b(s) = min
    // over other clusters of mean distance, sil = (b−a)/max(a,b). The
    // sample is bounded by construction and broadcasts against the
    // corpus (the q26/q100 pattern); per-(sample, cluster) sums are
    // map-side combinable over micro-int dissimilarities (each cosine
    // rounded once to 1e-6 before aggregation), per-cluster means round
    // once more to micro ints, so both engines pick identical a/b and
    // the final averages are exact-integer ratios divided once.
    QueryDef(
      "q142_silhouette",
      (s, dir) => {
        import s.implicits._
        // spread BEFORE kmeans (r17): the assignment feeds the 200×n
        // silhouette cross below — a fused dot per (corpus row, sample)
        // — and a single-row-group scan pins that stage to one core
        val emb = graft.ops.Par.spread(
          table(s, dir, "embeddings"), $"vec_id")
        val (assigned, _) =
          graft.ops.KMeans.kmeans(emb, "embedding", "vec_id", k = 8, iters = 2)
        // BOUNDED sample (~200 points via the q44 stride recipe): a
        // fixed-fraction sample would make the pair stage quadratic in
        // corpus size; a fixed-size one keeps it linear
        val sstride = emb.agg(
          greatest(lit(1L), (count(lit(1)) / 200L).cast("long"))
            .as("sstride"))
        val samp = assigned.crossJoin(broadcast(sstride))
          .filter($"vec_id" % $"sstride" === 0)
          .select($"vec_id".as("qid"), $"cluster".as("qc"),
            $"embedding".as("qe"))
        val pairCos = assigned.crossJoin(broadcast(samp))
          .filter($"vec_id" =!= $"qid")
          .withColumn("__cos",
            dot($"embedding", $"qe") / (norm($"embedding") * norm($"qe")))
          .select($"qid", $"qc", $"cluster",
            (lit(1000000L) - expr("CAST(ROUND(__cos * 1000000) AS BIGINT)"))
              .as("cd"))
        val pm = pairCos.groupBy($"qid", $"qc", $"cluster")
          .agg(expr("CAST(ROUND(CAST(SUM(cd) AS DOUBLE) / COUNT(*)) AS BIGINT)")
            .as("m"))
        val ab = pm.groupBy($"qid", $"qc")
          .agg(max(when($"cluster" === $"qc", $"m")).as("a"),
            min(when($"cluster" =!= $"qc", $"m")).as("b"))
          .filter($"a".isNotNull && $"b".isNotNull)
        ab.select($"qc".as("cluster"),
            expr("CAST(ROUND((b - a) * 1000000.0 / GREATEST(a, b, 1)) AS BIGINT)")
              .as("sil"))
          .groupBy("cluster")
          .agg(count(lit(1)).as("n_sampled"), sum($"sil").as("__ss"))
          .select($"cluster", $"n_sampled",
            round($"__ss".cast("double") / ($"n_sampled" * 1000000.0), 6)
              .as("avg_silhouette"))
          .sortBounded($"cluster")
      },
      Some(kmeansCte + raw""",
        sparams AS (SELECT GREATEST(1, COUNT(*) // 200) AS sstride
          FROM embeddings),
        samp AS (SELECT a.vec_id AS qid, a.c AS qc, e.embedding AS qe
          FROM assign1 a JOIN embeddings e USING (vec_id)
          CROSS JOIN sparams p
          WHERE a.vec_id % p.sstride = 0),
        pair AS (
          SELECT s.qid, s.qc, a2.c AS cluster, e2.vec_id AS id2,
            1000000 - CAST(ROUND(
              SUM(CAST(e2.embedding[t.i] AS DOUBLE)
                  * CAST(s.qe[t.i] AS DOUBLE)) /
              (SQRT(SUM(CAST(e2.embedding[t.i] AS DOUBLE)
                        * CAST(e2.embedding[t.i] AS DOUBLE))) *
               SQRT(SUM(CAST(s.qe[t.i] AS DOUBLE)
                        * CAST(s.qe[t.i] AS DOUBLE)))) * 1000000)
              AS BIGINT) AS cd
          FROM samp s
          JOIN assign1 a2 ON a2.vec_id <> s.qid
          JOIN embeddings e2 ON e2.vec_id = a2.vec_id
          CROSS JOIN generate_series(1, 64) t(i)
          GROUP BY s.qid, s.qc, a2.c, e2.vec_id),
        pm AS (SELECT qid, qc, cluster,
            CAST(ROUND(CAST(SUM(cd) AS DOUBLE) / COUNT(*)) AS BIGINT) AS m
          FROM pair GROUP BY 1, 2, 3),
        ab AS (SELECT qid, qc,
            MAX(CASE WHEN cluster = qc THEN m END) AS a,
            MIN(CASE WHEN cluster <> qc THEN m END) AS b
          FROM pm GROUP BY 1, 2),
        sil AS (SELECT qid, qc,
            CAST(ROUND((b - a) * 1000000.0 / GREATEST(a, b, 1)) AS BIGINT)
              AS s
          FROM ab WHERE a IS NOT NULL AND b IS NOT NULL)
        SELECT qc AS cluster, COUNT(*) AS n_sampled,
          ROUND(CAST(SUM(s) AS DOUBLE) / (COUNT(*) * 1000000.0), 6)
            AS avg_silhouette
        FROM sil GROUP BY qc ORDER BY cluster""")
    ),

    // ---- leave-one-out k-NN label accuracy (round 8) -------------------
    // The embedding-quality eval a labeling pipeline runs: does cosine
    // neighborhood structure predict the label? For a bounded stride
    // sample (the q142 contract), the 5 nearest corpus neighbors
    // (excluding self) vote by majority — ties to the SMALLER label —
    // and per-label accuracy comes from one combinable aggregation.
    // Cosines round once to 1e-6; neighbor rank ties break by vec_id,
    // so both engines pick identical neighbor sets and verdicts.
    QueryDef(
      "q163_knn_accuracy",
      (s, dir) => {
        import s.implicits._
        val emb = table(s, dir, "embeddings")
        val sstride = emb.agg(
          greatest(lit(1L), (count(lit(1)) / 200L).cast("long"))
            .as("sstride"))
        val samp = emb.crossJoin(broadcast(sstride))
          .filter($"vec_id" % $"sstride" === 0)
          .select($"vec_id".as("qid"), $"label".as("qlabel"),
            $"embedding".as("qe"))
        val pairCos = emb.crossJoin(broadcast(samp))
          .filter($"vec_id" =!= $"qid")
          .withColumn("__cos",
            dot($"embedding", $"qe") / (norm($"embedding") * norm($"qe")))
          .select($"qid", $"qlabel", $"vec_id", $"label",
            expr("CAST(ROUND(__cos * 1000000) AS BIGINT)").as("cm"))
        val w = org.apache.spark.sql.expressions.Window.partitionBy($"qid")
          .orderBy($"cm".desc, $"vec_id")
        val top = pairCos.withColumn("rk", row_number().over(w))
          .filter($"rk" <= 5)
        val vote = top.groupBy($"qid", $"qlabel", $"label")
          .agg(count(lit(1)).as("votes"))
          .groupBy($"qid", $"qlabel")
          .agg(max_by($"label", struct($"votes", -$"label")).as("pred"))
        vote
          .withColumn("ok", when($"pred" === $"qlabel", 1L).otherwise(0L))
          .groupBy($"qlabel".as("label"))
          .agg(count(lit(1)).as("n_sampled"), sum($"ok").as("n_correct"))
          .withColumn("accuracy_bp", expr("n_correct * 10000 DIV n_sampled"))
          .sortBounded($"label")
      },
      Some(raw"""WITH sparams AS (SELECT GREATEST(1, COUNT(*) // 200)
            AS sstride FROM embeddings),
        samp AS (SELECT e.vec_id AS qid, e.label AS qlabel,
            e.embedding AS qe
          FROM embeddings e CROSS JOIN sparams p
          WHERE e.vec_id % p.sstride = 0),
        pair AS (SELECT s.qid, s.qlabel, e.vec_id, e.label,
            CAST(ROUND(SUM(CAST(e.embedding[t.i] AS DOUBLE)
                * CAST(s.qe[t.i] AS DOUBLE)) /
              (SQRT(SUM(CAST(e.embedding[t.i] AS DOUBLE)
                        * CAST(e.embedding[t.i] AS DOUBLE))) *
               SQRT(SUM(CAST(s.qe[t.i] AS DOUBLE)
                        * CAST(s.qe[t.i] AS DOUBLE)))) * 1000000)
              AS BIGINT) AS cm
          FROM samp s JOIN embeddings e ON e.vec_id <> s.qid
          CROSS JOIN generate_series(1, 64) t(i)
          GROUP BY s.qid, s.qlabel, e.vec_id, e.label),
        top AS (SELECT qid, qlabel, label FROM (
            SELECT qid, qlabel, label, ROW_NUMBER() OVER (
              PARTITION BY qid ORDER BY cm DESC, vec_id) AS rk
            FROM pair) t WHERE rk <= 5),
        votes AS (SELECT qid, qlabel, label, COUNT(*) AS v
          FROM top GROUP BY qid, qlabel, label),
        pred AS (SELECT qid, qlabel, label AS pred FROM (
            SELECT qid, qlabel, label, ROW_NUMBER() OVER (
              PARTITION BY qid ORDER BY v DESC, label) AS rk
            FROM votes) t WHERE rk = 1)
        SELECT qlabel AS label, COUNT(*) AS n_sampled,
          CAST(SUM(CASE WHEN pred = qlabel THEN 1 ELSE 0 END) AS BIGINT)
            AS n_correct,
          CAST(SUM(CASE WHEN pred = qlabel THEN 1 ELSE 0 END) * 10000
            // COUNT(*) AS BIGINT) AS accuracy_bp
        FROM pred GROUP BY qlabel ORDER BY label""")),

    // ---- greedy k-center coreset (diverse-subset selection) ------------
    // The data-selection op behind embedding-based coreset curation
    // (k-center greedy / farthest-point sampling, cosine flavor): start
    // from the smallest id, then repeatedly add the vector whose MAX
    // similarity to the already-selected set is smallest — the most
    // "novel" remaining document. Selection compares the q163
    // micro-scaled integers (ROUND(cos·1e6) AS BIGINT) with a vec_id
    // tie-break, so both engines pick identical centers at every step;
    // the oracle replays all 7 greedy steps as a generated CTE chain
    // (the q63/q72 unrolled-iteration convention). Scale shape: k
    // bounded driver iterations, each ONE corpus scan + a 1-row
    // TakeOrdered — centers ride as codegen literals; nothing quadratic,
    // nothing corpus-sized on the driver.
    QueryDef(
      "q177_kcenter_coreset",
      (s, dir) => {
        import s.implicits._
        val emb = table(s, dir, "embeddings").select($"vec_id", $"embedding")
        val k = 8
        val f = graft.util.CollectCapped(
          emb.orderBy($"vec_id").limit(1), 1, "k-center seed row")(0)
        val selected = scala.collection.mutable.ArrayBuffer[
          (Long, Array[Float], Long)](
          (f.getLong(0), f.getSeq[Float](1).toArray, -2000000L))
        while (selected.size < k) {
          val sims = selected.map { case (_, c, _) =>
            val cn = math.sqrt(c.map(x => x.toDouble * x.toDouble).sum)
            dot($"embedding", typedlit(c)) / (norm($"embedding") * lit(cn))
          }.toSeq
          val ms = if (sims.size == 1) sims.head else greatest(sims: _*)
          val ids = selected.map(_._1).toSeq
          val nxt0 = emb.filter(!$"vec_id".isin(ids: _*))
            .withColumn("__ms", ms)
            .select($"vec_id", $"embedding",
              expr("CAST(ROUND(__ms * 1000000) AS BIGINT)").as("msm"))
            .orderBy($"msm".asc, $"vec_id".asc).limit(1)
          val nxt = graft.util.CollectCapped(nxt0, 1,
            "k-center farthest-point row")(0)
          selected += ((nxt.getLong(0), nxt.getSeq[Float](1).toArray,
            nxt.getLong(2)))
        }
        s.createDataFrame(selected.toSeq.zipWithIndex.map {
          case ((id, _, m), i) => (i + 1L, id, m)
        }).toDF("rank", "vec_id", "max_sim_micro")
      },
      Some(kcenterOracle(8))
    )
  )

  /** Generated oracle for q177: 7 unrolled greedy steps. Step t selects
    * argmin over unselected vecs of ROUND(1e6 · max(sim to c1..ct))
    * with a vec_id tie-break — the exact integer rule the Spark loop
    * applies.
    */
  private def kcenterOracle(k: Int): String = {
    def simCte(t: Int) = raw"""s$t AS MATERIALIZED (SELECT e.vec_id,
        SUM(CAST(e.embedding[t.i] AS DOUBLE) * CAST(c.embedding[t.i] AS DOUBLE)) /
          (SQRT(SUM(CAST(e.embedding[t.i] AS DOUBLE)
                    * CAST(e.embedding[t.i] AS DOUBLE))) *
           SQRT(SUM(CAST(c.embedding[t.i] AS DOUBLE)
                    * CAST(c.embedding[t.i] AS DOUBLE)))) AS sim
      FROM embeddings e CROSS JOIN c$t c
      CROSS JOIN generate_series(1, 64) t(i)
      GROUP BY e.vec_id)"""
    def maxCte(t: Int) = {
      val joins = (2 to t).map(j => s"JOIN s$j ON s$j.vec_id = s1.vec_id")
        .mkString(" ")
      val g = if (t == 1) "s1.sim"
        else (1 to t).map(j => s"s$j.sim").mkString("GREATEST(", ", ", ")")
      s"""m$t AS MATERIALIZED (SELECT s1.vec_id,
          CAST(ROUND($g * 1000000) AS BIGINT) AS msm
        FROM s1 $joins)"""
    }
    def selUnion(t: Int) =
      (1 to t).map(j => s"SELECT vec_id FROM c$j").mkString(" UNION ALL ")
    val steps = (2 to k).map { t =>
      simCte(t - 1) + ",\n        " + maxCte(t - 1) + ",\n        " +
        s"""c$t AS MATERIALIZED (SELECT e.vec_id, e.embedding FROM embeddings e
          WHERE e.vec_id = (SELECT m.vec_id FROM m${t - 1} m
            WHERE m.vec_id NOT IN (${selUnion(t - 1)})
            ORDER BY m.msm ASC, m.vec_id ASC LIMIT 1))"""
    }.mkString(",\n        ")
    val out = (1 to k).map { t =>
      val ms = if (t == 1) "CAST(-2000000 AS BIGINT)"
        else s"(SELECT msm FROM m${t - 1} WHERE vec_id = c$t.vec_id)"
      s"SELECT CAST($t AS BIGINT) AS rank, vec_id, $ms AS max_sim_micro FROM c$t"
    }.mkString(" UNION ALL ")
    raw"""WITH c1 AS MATERIALIZED (SELECT vec_id, embedding FROM embeddings
        WHERE vec_id = (SELECT MIN(vec_id) FROM embeddings)),
        $steps
      SELECT rank, vec_id, max_sim_micro FROM ($out) ORDER BY rank"""
  }

  /** Generated oracle for q63: one CTE chain per subspace replaying
    * Pq.trainCodebooks (stride init, L2 argmin assignment with the
    * ROW_NUMBER(dist, c) tie rule, exact fixed-point mean update with
    * empty-code fallback to the init entry), then the ADC cosine and
    * the exact rescore of the top-10.
    */
  private def pqOracle: String = {
    val m = 4; val k = 16; val sub = 16
    val perSub = (0 until m).map { s =>
      val off = s * sub
      val lo = off + 1; val hi = off + sub
      raw"""cents0_$s AS (
          SELECT ROW_NUMBER() OVER (ORDER BY e.vec_id) - 1 AS c,
            e.embedding[$lo:$hi] AS cv
          FROM embeddings e, params p WHERE e.vec_id % p.stride = 0
          ORDER BY e.vec_id LIMIT $k),
        dist0_$s AS (
          SELECT e.vec_id, c.c,
            SUM((CAST(e.embedding[t.i + $off] AS DOUBLE) - c.cv[t.i]) *
                (CAST(e.embedding[t.i + $off] AS DOUBLE) - c.cv[t.i])) AS d
          FROM embeddings e CROSS JOIN cents0_$s c
          CROSS JOIN generate_series(1, $sub) t(i)
          GROUP BY e.vec_id, c.c),
        assign0_$s AS (
          SELECT vec_id, c FROM (
            SELECT vec_id, c, ROW_NUMBER() OVER (
              PARTITION BY vec_id ORDER BY d ASC, c) AS rn
            FROM dist0_$s) t WHERE rn = 1),
        upd_$s AS (
          SELECT a.c, t.i,
            SUM(CAST(ROUND(CAST(e.embedding[t.i + $off] AS DOUBLE)
              * 1000000.0) AS BIGINT)) AS sm,
            COUNT(*) AS n
          FROM embeddings e JOIN assign0_$s a USING (vec_id)
          CROSS JOIN generate_series(1, $sub) t(i)
          GROUP BY a.c, t.i),
        cents1_$s AS (
          SELECT c0.c, list(
              CASE WHEN u.sm IS NULL THEN CAST(c0.cv[t.i] AS DOUBLE)
                   ELSE CAST(u.sm AS DOUBLE) / (u.n * 1000000.0) END
              ORDER BY t.i) AS cv
          FROM cents0_$s c0 CROSS JOIN generate_series(1, $sub) t(i)
          LEFT JOIN upd_$s u ON u.c = c0.c AND u.i = t.i
          GROUP BY c0.c),
        dist1_$s AS (
          SELECT e.vec_id, c.c,
            SUM((CAST(e.embedding[t.i + $off] AS DOUBLE) - c.cv[t.i]) *
                (CAST(e.embedding[t.i + $off] AS DOUBLE) - c.cv[t.i])) AS d
          FROM embeddings e CROSS JOIN cents1_$s c
          CROSS JOIN generate_series(1, $sub) t(i)
          GROUP BY e.vec_id, c.c),
        assign1_$s AS (
          SELECT vec_id, c FROM (
            SELECT vec_id, c, ROW_NUMBER() OVER (
              PARTITION BY vec_id ORDER BY d ASC, c) AS rn
            FROM dist1_$s) t WHERE rn = 1),
        adc_$s AS (
          SELECT a.vec_id,
            SUM(c.cv[t.i] * CAST(q.qe[t.i + $off] AS DOUBLE)) AS dt,
            SUM(c.cv[t.i] * c.cv[t.i]) AS n2
          FROM assign1_$s a JOIN cents1_$s c USING (c)
          CROSS JOIN q CROSS JOIN generate_series(1, $sub) t(i)
          GROUP BY a.vec_id)"""
    }.mkString(",\n        ")
    val unions = (0 until m)
      .map(s => s"SELECT * FROM adc_$s").mkString(" UNION ALL ")
    raw"""WITH params AS (
          SELECT GREATEST(1, COUNT(*) // $k) AS stride FROM embeddings),
        q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 4),
        $perSub,
        adc AS (
          SELECT vec_id, SUM(dt) AS dt, SUM(n2) AS n2
          FROM ($unions) GROUP BY vec_id),
        qn AS (
          SELECT SQRT(SUM(CAST(qe[t.i] AS DOUBLE) * CAST(qe[t.i] AS DOUBLE)))
            AS qnorm
          FROM q CROSS JOIN generate_series(1, 64) t(i)),
        sims AS (
          SELECT vec_id, ROUND(dt / (SQRT(n2) * qnorm), 5) AS sim_pq
          FROM adc CROSS JOIN qn WHERE vec_id <> 4),
        top AS (
          SELECT vec_id, sim_pq FROM sims
          ORDER BY sim_pq DESC, vec_id LIMIT 10),
        ex AS (
          SELECT e.vec_id,
            SUM(CAST(e.embedding[t.i] AS DOUBLE) * CAST(q.qe[t.i] AS DOUBLE)) /
              (SQRT(SUM(CAST(e.embedding[t.i] AS DOUBLE) *
                        CAST(e.embedding[t.i] AS DOUBLE))) *
               SQRT(SUM(CAST(q.qe[t.i] AS DOUBLE) *
                        CAST(q.qe[t.i] AS DOUBLE)))) AS sx
          FROM embeddings e JOIN top tp ON e.vec_id = tp.vec_id
          CROSS JOIN q CROSS JOIN generate_series(1, 64) t(i)
          GROUP BY e.vec_id)
        SELECT top.vec_id, top.sim_pq, ROUND(ex.sx, 5) AS sim_exact
        FROM top JOIN ex ON top.vec_id = ex.vec_id
        ORDER BY top.sim_pq DESC, top.vec_id"""
  }

  /** Shared oracle CTE chain replaying KMeans.kmeans(k=8, iters=2):
    * stride init (the q44 coarse quantizer), pass-0 assignment, exact
    * fixed-point centroid update, pass-1 assignment.
    */
  private def kmeansCte: String = raw"""WITH params AS (
          SELECT GREATEST(1, COUNT(*) // 8) AS stride FROM embeddings),
        cents0 AS (
          SELECT ROW_NUMBER() OVER (ORDER BY e.vec_id) - 1 AS c,
            e.embedding AS cv
          FROM embeddings e, params p WHERE e.vec_id % p.stride = 0
          ORDER BY e.vec_id LIMIT 8),
        sim0 AS (
          SELECT e.vec_id, c.c,
            SUM(CAST(e.embedding[t.i] AS DOUBLE) * CAST(c.cv[t.i] AS DOUBLE)) /
              (SQRT(SUM(CAST(e.embedding[t.i] AS DOUBLE) *
                        CAST(e.embedding[t.i] AS DOUBLE))) *
               SQRT(SUM(CAST(c.cv[t.i] AS DOUBLE) *
                        CAST(c.cv[t.i] AS DOUBLE)))) AS sim
          FROM embeddings e CROSS JOIN cents0 c
          CROSS JOIN generate_series(1, 64) t(i)
          GROUP BY e.vec_id, c.c),
        assign0 AS (
          SELECT vec_id, c FROM (
            SELECT vec_id, c, ROW_NUMBER() OVER (
              PARTITION BY vec_id ORDER BY sim DESC, c) AS rn
            FROM sim0) t WHERE rn = 1),
        upd AS (
          SELECT a.c, t.i,
            SUM(CAST(ROUND(CAST(e.embedding[t.i] AS DOUBLE) * 1000000.0)
              AS BIGINT)) AS s,
            COUNT(*) AS n
          FROM embeddings e JOIN assign0 a USING (vec_id)
          CROSS JOIN generate_series(1, 64) t(i)
          GROUP BY a.c, t.i),
        cents1 AS (
          SELECT c, list(CAST(s AS DOUBLE) / (n * 1000000.0) ORDER BY i) AS cv
          FROM upd GROUP BY c),
        sim1 AS (
          SELECT e.vec_id, c.c,
            SUM(CAST(e.embedding[t.i] AS DOUBLE) * c.cv[t.i]) /
              (SQRT(SUM(CAST(e.embedding[t.i] AS DOUBLE) *
                        CAST(e.embedding[t.i] AS DOUBLE))) *
               SQRT(SUM(c.cv[t.i] * c.cv[t.i]))) AS sim
          FROM embeddings e CROSS JOIN cents1 c
          CROSS JOIN generate_series(1, 64) t(i)
          GROUP BY e.vec_id, c.c),
        assign1 AS (
          SELECT vec_id, c FROM (
            SELECT vec_id, c, ROW_NUMBER() OVER (
              PARTITION BY vec_id ORDER BY sim DESC, c) AS rn
            FROM sim1) t WHERE rn = 1)"""
}
