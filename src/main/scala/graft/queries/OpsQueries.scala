package graft.queries

import org.apache.spark.sql.functions._
import graft.ops.{Ann, Dedup, KdTree, Multimodal}
import QueryDef.{table, BoundedSort}
import Coords._

/** Sketch/model-based operators from graft.ops exercised as queries.
  * MinHash-LSH and the multimodal decode have full DuckDB oracles
  * (the oracle recomputes exact Jaccard brute-force / the deterministic
  * stub math); SimHash, KD-tree and LSH-ANN are declared rows-only
  * (their hash families aren't SQL-expressible) and are instead
  * unit-tested in graft test suites.
  */
object OpsQueries {

  val defs: Seq[QueryDef] = Seq(
    // ---- MinHash + banded LSH near-dup detection -----------------------
    // LSH candidates (equi-join on band signatures, no cross join) are
    // verified with exact 3-gram Jaccard; at j >= 0.8 with 128 hashes /
    // 32 bands the miss probability is ~1e-29, so the output equals the
    // oracle's brute-force enumeration.
    QueryDef(
      "q28_minhash_dedup",
      (s, dir) => {
        import s.implicits._
        Dedup.minhashNearDups(table(s, dir, "documents"), "text", "doc_id",
            numHashes = 128, bands = 32, shingleK = 3, threshold = 0.8)
          .select($"id_a", $"id_b", round($"jaccard", 6).as("jaccard"))
          .orderBy($"id_a", $"id_b")
      },
      Some("""WITH norm AS (
          SELECT doc_id,
            list_filter(regexp_split_to_array(
              trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
                ' +', ' ', 'g')), ' '), t -> t <> '') AS toks
          FROM documents),
        sh AS (
          SELECT doc_id,
            CASE WHEN len(toks) < 3 THEN
              CASE WHEN len(toks) = 0 THEN [] ELSE [array_to_string(toks, ' ')] END
            ELSE list_distinct(list_transform(range(len(toks) - 2),
              i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]))
            END AS sset
          FROM norm)
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
          ROUND(CAST(len(list_intersect(a.sset, b.sset)) AS DOUBLE) /
            (len(a.sset) + len(b.sset) - len(list_intersect(a.sset, b.sset))), 6)
            AS jaccard
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        WHERE CAST(len(list_intersect(a.sset, b.sset)) AS DOUBLE) /
          (len(a.sset) + len(b.sset) - len(list_intersect(a.sset, b.sset))) >= 0.8
        ORDER BY id_a, id_b""")),

    // ---- SimHash near-dup ----------------------------------------------
    // The token hash is md5-derived, so the oracle rebuilds the exact
    // 64 fingerprint bits from hex-nibble arithmetic and brute-forces
    // pairwise Hamming — verifying both the SimHash math and the
    // pigeonhole banding (which must equal brute force for hamming<=3).
    QueryDef(
      "q29_simhash_dedup",
      (s, dir) => {
        import s.implicits._
        Dedup.simhashNearDups(table(s, dir, "documents"), "text", "doc_id",
            maxHamming = 3)
          .orderBy($"id_a", $"id_b")
      },
      Some("""WITH norm AS (
          SELECT doc_id,
            list_filter(regexp_split_to_array(
              trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
                ' +', ' ', 'g')), ' '), t -> t <> '') AS toks
          FROM documents),
        tok AS (SELECT doc_id, md5(unnest(toks)) AS h FROM norm),
        bits AS (SELECT unnest(range(64)) AS i),
        -- bit i of the big-endian first-8-bytes-of-md5 token hash,
        -- from hex nibbles: byte (7 - i//8), bit (i % 8)
        contrib AS (
          SELECT t.doc_id, b.i,
            CASE WHEN (((strpos('0123456789abcdef',
                  substr(t.h, 2 * (7 - b.i // 8) + 1, 1)) - 1) * 16
                + (strpos('0123456789abcdef',
                  substr(t.h, 2 * (7 - b.i // 8) + 2, 1)) - 1))
                >> (b.i % 8)) & 1 = 1 THEN 1 ELSE -1 END AS c
          FROM tok t CROSS JOIN bits b),
        fp AS (
          SELECT d.doc_id, b.i, COALESCE(SUM(c.c), 0) > 0 AS bit
          FROM (SELECT doc_id FROM documents) d
          CROSS JOIN bits b
          LEFT JOIN contrib c ON c.doc_id = d.doc_id AND c.i = b.i
          GROUP BY d.doc_id, b.i),
        pairs AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b,
            CAST(SUM(CASE WHEN a.bit <> b.bit THEN 1 ELSE 0 END) AS INT) AS hamming
          FROM fp a JOIN fp b ON a.i = b.i AND a.doc_id < b.doc_id
          GROUP BY 1, 2)
        SELECT id_a, id_b, hamming FROM pairs
        WHERE hamming <= 3 ORDER BY id_a, id_b""")),

    // ---- KD-tree balanced spatial partitioning -------------------------
    // The split sample is the deterministic md5-rank top-N (exact N rows
    // with the smallest (md5(id), id) — a distributed TakeOrdered, never
    // an unbounded collect), so the oracle can rebuild the identical
    // tree in pure SQL: sample via the same rank rule, then per-level
    // upper-median (value at 0-based sorted index n//2, the same rule as
    // KdTree.build) alternating x/y, four levels deep, and finally
    // assign every row a cell through the sample-built medians.
    QueryDef(
      "q30_kdtree_cells",
      (s, dir) => {
        import s.implicits._
        val pts = table(s, dir, "customer")
          .withColumn("x", lon($"c_custkey"))
          .withColumn("y", lat($"c_custkey"))
        val tree = KdTree.build(pts, "x", "y", iterations = 4,
          sampleRows = 100000, rankBy = Some("c_custkey"))
        KdTree.withCell(pts, "x", "y", tree)
          .groupBy($"kdtree_cell")
          .agg(count(lit(1)).as("n_rows"))
          .sortBounded($"kdtree_cell")
      },
      Some {
        // one median+split level: median from the sample chain (s_i),
        // applied to both the sample (s_{i+1}) and all rows (c_{i+1})
        def level(i: Int, axis: String): String =
          s"""m$i AS (
            SELECT cell, v AS m FROM (
              SELECT cell, $axis AS v,
                ROW_NUMBER() OVER (PARTITION BY cell ORDER BY $axis) - 1 AS rn,
                COUNT(*) OVER (PARTITION BY cell) AS n
              FROM s$i) t WHERE rn = n // 2),
          s${i + 1} AS (
            SELECT p.x, p.y,
              p.cell || (CASE WHEN p.$axis < m.m THEN '0' ELSE '1' END) AS cell
            FROM s$i p JOIN m$i m USING (cell)),
          c${i + 1} AS (
            SELECT p.x, p.y,
              p.cell || (CASE WHEN p.$axis < m.m THEN '0' ELSE '1' END) AS cell
            FROM c$i p JOIN m$i m USING (cell))"""
        s"""WITH pts AS (
            SELECT c_custkey, ${lonSql("c_custkey")} AS x, ${latSql("c_custkey")} AS y
            FROM customer),
          samp AS (
            SELECT x, y FROM (
              SELECT x, y, ROW_NUMBER() OVER (
                ORDER BY md5(CAST(c_custkey AS VARCHAR)), c_custkey) AS rn
              FROM pts) t WHERE rn <= 100000),
          s0 AS (SELECT x, y, '' AS cell FROM samp),
          c0 AS (SELECT x, y, '' AS cell FROM pts),
          ${level(0, "x")},
          ${level(1, "y")},
          ${level(2, "x")},
          ${level(3, "y")}
          SELECT cell AS kdtree_cell, COUNT(*) AS n_rows
          FROM c4 GROUP BY 1 ORDER BY 1"""
      }),

    // ---- LSH-bucketed ANN ----------------------------------------------
    // The md5-derived ±1 hyperplanes are regenerated by the oracle, which
    // recomputes every signature, applies the same multi-probe rule
    // (bucket + 1-bit flips = hamming <= 1), and takes exact top-k within
    // the candidates — the whole LSH path is hash-verified, not rows-only.
    QueryDef(
      "q31_ann_lsh",
      (s, dir) => {
        import s.implicits._
        val emb = table(s, dir, "embeddings")
        val query = graft.util.CollectCapped(
          emb.filter($"vec_id" === 1).select($"embedding"), 1,
          "single query vector")(0).getSeq[Float](0).toArray
        Ann.lshTopK(emb.filter($"vec_id" =!= 1), "embedding", "vec_id",
            query, k = 10, bits = 8)
          .select($"vec_id", round($"sim", 5).as("sim"))
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
        q AS (SELECT sig AS qsig FROM sigs WHERE vec_id = 1),
        qe AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 1),
        cand AS (
          SELECT s.vec_id FROM sigs s CROSS JOIN q
          WHERE s.vec_id <> 1
            AND bit_count(CAST(xor(s.sig, q.qsig) AS BIGINT)) <= 1),
        pairs AS (
          SELECT e.vec_id,
            CAST(e.embedding[t.i] AS DOUBLE) AS ev,
            CAST(qe.qe[t.i] AS DOUBLE) AS qv
          FROM embeddings e JOIN cand c ON e.vec_id = c.vec_id
          CROSS JOIN qe
          CROSS JOIN generate_series(1, 64) t(i)),
        sims AS (
          SELECT vec_id,
            ROUND(SUM(ev * qv) / (SQRT(SUM(ev * ev)) * SQRT(SUM(qv * qv))), 5) AS sim
          FROM pairs GROUP BY vec_id)
        SELECT vec_id, sim FROM sims
        ORDER BY sim DESC, vec_id LIMIT 10""")),

    // ---- near-dup cluster resolution (pairs -> canonical keeper) -------
    // Connected components (`Dedup.connectedComponents`: a driver
    // union-find for a pair set within the broadcast threshold, as here,
    // else distributed hash-to-min rounds; both label by minimum id); the
    // oracle recomputes the same clusters with a recursive transitive
    // closure over the brute-force Jaccard pair set.
    QueryDef(
      "q39_dedup_clusters",
      (s, dir) => {
        import s.implicits._
        val pairs = Dedup.minhashNearDups(table(s, dir, "documents"),
          "text", "doc_id", numHashes = 128, bands = 32, shingleK = 3,
          threshold = 0.8)
        Dedup.connectedComponents(pairs)
          .select($"id".as("doc_id"), $"cluster_id")
          .orderBy($"doc_id")
      },
      Some("""WITH RECURSIVE norm AS (
          SELECT doc_id,
            list_filter(regexp_split_to_array(
              trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
                ' +', ' ', 'g')), ' '), t -> t <> '') AS toks
          FROM documents),
        sh AS (
          SELECT doc_id,
            CASE WHEN len(toks) < 3 THEN
              CASE WHEN len(toks) = 0 THEN [] ELSE [array_to_string(toks, ' ')] END
            ELSE list_distinct(list_transform(range(len(toks) - 2),
              i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]))
            END AS sset
          FROM norm),
        p AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b
          FROM sh a JOIN sh b ON a.doc_id < b.doc_id
          WHERE CAST(len(list_intersect(a.sset, b.sset)) AS DOUBLE) /
            (len(a.sset) + len(b.sset) - len(list_intersect(a.sset, b.sset))) >= 0.8),
        edges AS (
          SELECT id_a AS s, id_b AS t FROM p
          UNION ALL SELECT id_b, id_a FROM p),
        reach(s, t) AS (
          SELECT s, t FROM edges
          UNION
          SELECT r.s, e.t FROM reach r JOIN edges e ON r.t = e.s)
        SELECT s AS doc_id, LEAST(s, MIN(t)) AS cluster_id
        FROM reach GROUP BY s ORDER BY doc_id""")),

    // ---- deterministic hash split (train/validation/test) --------------
    // The split key is md5 of the id — stable under repartitioning,
    // reshuffling, and engine, which is exactly why hash splits (not
    // random()) are the pipeline norm; both engines recompute it.
    QueryDef(
      "q40_hash_split",
      (s, dir) => {
        import s.implicits._
        val h4 = conv(substring(md5($"doc_id".cast("string")), 1, 4), 16, 10)
          .cast("int") % 100
        table(s, dir, "documents")
          .withColumn("split",
            when(h4 < 80, "train").when(h4 < 90, "validation").otherwise("test"))
          .groupBy($"split")
          .agg(count(lit(1)).as("n_docs"),
            min($"doc_id").as("min_id"), max($"doc_id").as("max_id"),
            sum($"doc_id").as("sum_id"))
          .sortBounded($"split")
      },
      Some {
        def nib(i: Int): String =
          s"(strpos('0123456789abcdef', substr(h, $i, 1)) - 1)"
        s"""WITH hashed AS (
            SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS h FROM documents),
          v AS (
            SELECT doc_id,
              (${nib(1)} * 4096 + ${nib(2)} * 256 + ${nib(3)} * 16 + ${nib(4)}) % 100 AS b
            FROM hashed)
          SELECT CASE WHEN b < 80 THEN 'train'
                      WHEN b < 90 THEN 'validation' ELSE 'test' END AS split,
            COUNT(*) AS n_docs, MIN(doc_id) AS min_id, MAX(doc_id) AS max_id,
            CAST(SUM(doc_id) AS BIGINT) AS sum_id
          FROM v GROUP BY 1 ORDER BY 1"""
      }),

    // ---- multimodal decode via mapPartitions (deterministic stub) ------
    // The payload is the UTF-8 text; the stub extracts byte-derived
    // dimensions, so the oracle can recompute them with byte math. This
    // validates the mapPartitions schema/batch plumbing end-to-end.
    QueryDef(
      "q32_multimodal_decode",
      (s, dir) => {
        import s.implicits._
        val media = table(s, dir, "documents")
          .withColumn("payload", encode($"text", "UTF-8"))
          .withColumn("media_type",
            when($"doc_id" % 3 === 0, "image")
              .when($"doc_id" % 3 === 1, "audio").otherwise("video"))
        Multimodal.withDecodedMeta(media, "payload", "media_type")
          .select($"doc_id", $"media_type",
            $"media_meta.n_bytes".cast("long").as("n_bytes"),
            $"media_meta.width".cast("long").as("width"),
            $"media_meta.height".cast("long").as("height"),
            $"media_meta.n_frames".cast("long").as("n_frames"))
          .orderBy($"doc_id")
      },
      Some("""SELECT doc_id,
          CASE WHEN doc_id % 3 = 0 THEN 'image'
               WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS media_type,
          strlen(text) AS n_bytes,
          CAST(16 + (ascii(substr(text, 1, 1)) % 128) AS BIGINT) AS width,
          CAST(16 + (ascii(substr(text, 2, 1)) % 128) AS BIGINT) AS height,
          CAST(CASE WHEN doc_id % 3 = 2 THEN 1 + strlen(text) % 30 ELSE 1 END AS BIGINT) AS n_frames
        FROM documents ORDER BY doc_id""")),

    // ---- REAL image decode (JDK javax.imageio, no external jars) -------
    // Each row's payload is an actual PNG encoded partition-locally with
    // dimensions that are a pure function of doc_id; withDecodedMeta
    // round-trips it through the real PNG decoder, so width/height come
    // out of the PNG header, not the formula — and the oracle recomputes
    // the formula to certify the decoder. n_bytes is the real encoded
    // PNG size (encoder-dependent), deliberately NOT selected.
    QueryDef(
      "q46_image_decode",
      (s, dir) => {
        import s.implicits._
        val media = Multimodal.withSyntheticPng(
            table(s, dir, "documents").select($"doc_id"), "doc_id")
          .withColumn("media_type", lit("image"))
        Multimodal.withDecodedMeta(media, "payload", "media_type")
          .select($"doc_id",
            $"media_meta.width".cast("long").as("width"),
            $"media_meta.height".cast("long").as("height"))
          .orderBy($"doc_id")
      },
      Some("""SELECT doc_id,
          CAST(1 + doc_id % 13 AS BIGINT) AS width,
          CAST(1 + doc_id % 7 AS BIGINT) AS height
        FROM documents ORDER BY doc_id""")),

    // ---- REAL image resize (decode → NN sample → PNG re-encode) --------
    // The q46 certification promise extended to the RESIZE op: every
    // document carries a real 8×8 grayscale PNG (the md5 classLum
    // formula, one noise pixel), withResized takes the REAL path
    // (imageio decode → center-rule nearest-neighbor → hand-rolled PNG
    // re-encode), and the output is RE-DECODED and reduced to its
    // luminance sum — so the cross-engine hash match certifies
    // decode → index math → re-encode → decode, end to end. The oracle
    // replays the pixel formula and the SAME integer center rule
    // (src p = (2y+1)·8 + (2x+1) at 8→4): all integer arithmetic.
    // Partition-local throughout; 3 longs per row cross the exchange.
    QueryDef(
      "q188_image_resize",
      (s, dir) => {
        import s.implicits._
        val media = Multimodal.withSyntheticClassPng(
          table(s, dir, "documents").select($"doc_id"), "doc_id", 40)
        val resized = Multimodal.withResized(media, "payload", 4, 4)
        Multimodal.withLumSum(resized, "payload")
          .select($"doc_id", $"dec_w", $"dec_h", $"lum_sum")
          .orderBy($"doc_id")
      },
      Some("""WITH s AS (SELECT doc_id, CAST(t.i AS BIGINT) AS i
            FROM documents, UNNEST(range(0, 16)) t(i)),
        px AS (SELECT doc_id, i,
            (2 * (i // 4) + 1) * 8 + (2 * (i % 4) + 1) AS p
          FROM s),
        lum AS (SELECT doc_id, p,
            CASE WHEN p = doc_id % 64 THEN xor(
              CAST(('0x' || substr(md5((doc_id % 40) || ':' || p), 1, 2))
                AS BIGINT), 1)
            ELSE CAST(('0x' || substr(md5((doc_id % 40) || ':' || p), 1, 2))
              AS BIGINT) END AS lum
          FROM px)
        SELECT doc_id, CAST(4 AS BIGINT) AS dec_w, CAST(4 AS BIGINT) AS dec_h,
          CAST(SUM(lum) AS BIGINT) AS lum_sum
        FROM lum GROUP BY doc_id ORDER BY doc_id""")),

    // ---- perceptual-hash image near-dup (aHash + pigeonhole bands) -----
    // The multimodal member of the dedup family: every document carries
    // a REAL 8×8 grayscale PNG (pixels = the md5-hex classLum formula
    // for class doc_id % 40, ONE noise pixel per doc — same-class
    // images are perceptual near-dups, not byte-dups), the aHash is
    // computed from the imageio-DECODED pixels (lum·64 ≥ Σlum, integer
    // exact), and pairs at Hamming ≤ 3 come from the 4×16-bit
    // pigeonhole band join — complete for ≤ 3, so it equals the
    // oracle's brute-force all-pairs scan, while Spark shuffles only
    // 8-byte hashes (never image bytes). The oracle replays the pixel
    // FORMULA with its own md5 — the cross-engine hash match therefore
    // certifies the whole encode→decode→hash round-trip (the q46
    // promise, extended from dimensions to pixel content).
    QueryDef(
      "q175_phash_dedup",
      (s, dir) => {
        import s.implicits._
        val media = Multimodal.withSyntheticClassPng(
          table(s, dir, "documents").select($"doc_id"), "doc_id", 40)
        val sig = Multimodal.withAHash(media, "payload")
          .select($"doc_id", $"ahash_hi", $"ahash_lo")
        Multimodal.phashNearDups(sig, "doc_id", maxHamming = 3)
          .orderBy($"id_a", $"id_b")
      },
      Some("""WITH px AS (SELECT doc_id, CAST(t.p AS BIGINT) AS p,
            CAST(('0x' || substr(md5((doc_id % 40) || ':' || t.p), 1, 2))
              AS BIGINT) AS base
          FROM documents, UNNEST(range(0, 64)) t(p)),
        lum AS (SELECT doc_id, p,
            CASE WHEN p = doc_id % 64 THEN xor(base, 1) ELSE base END
              AS lum
          FROM px),
        s AS (SELECT doc_id, CAST(SUM(lum) AS BIGINT) AS s FROM lum
          GROUP BY doc_id),
        bits AS (SELECT l.doc_id, l.p,
            CASE WHEN l.lum * 64 >= s.s THEN 1 ELSE 0 END AS b
          FROM lum l JOIN s USING (doc_id)),
        h AS (SELECT doc_id,
            CAST(SUM(CASE WHEN p < 32
              THEN b * CAST(POWER(2, p) AS BIGINT) ELSE 0 END)
              AS BIGINT) AS lo,
            CAST(SUM(CASE WHEN p >= 32
              THEN b * CAST(POWER(2, p - 32) AS BIGINT) ELSE 0 END)
              AS BIGINT) AS hi
          FROM bits GROUP BY doc_id)
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
          CAST(bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo))
            AS BIGINT) AS hamming
        FROM h a JOIN h b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) <= 3
        ORDER BY id_a, id_b""")),

    // ---- perceptual-dup cluster resolution (q175 pairs → q39 CC) -------
    // Closes the multimodal dedup family the way q39 closes minhash:
    // the Hamming≤3 pair graph resolves to keep-one clusters via the
    // same connectedComponents (minimum-id labels), and the oracle
    // replays pairs from the pixel formula plus the recursive reach
    // closure — certifying that the decoded-pixel path and the formula
    // path agree not just pairwise but transitively.
    QueryDef(
      "q176_phash_clusters",
      (s, dir) => {
        import s.implicits._
        val media = Multimodal.withSyntheticClassPng(
          table(s, dir, "documents").select($"doc_id"), "doc_id", 40)
        val sig = Multimodal.withAHash(media, "payload")
          .select($"doc_id", $"ahash_hi", $"ahash_lo")
        val pairs = Multimodal.phashNearDups(sig, "doc_id", maxHamming = 3)
        Dedup.connectedComponents(pairs)
          .select($"id".as("doc_id"), $"cluster_id")
          .orderBy($"doc_id")
      },
      Some("""WITH RECURSIVE px AS (SELECT doc_id, CAST(t.p AS BIGINT) AS p,
            CAST(('0x' || substr(md5((doc_id % 40) || ':' || t.p), 1, 2))
              AS BIGINT) AS base
          FROM documents, UNNEST(range(0, 64)) t(p)),
        lum AS (SELECT doc_id, p,
            CASE WHEN p = doc_id % 64 THEN xor(base, 1) ELSE base END
              AS lum
          FROM px),
        s AS (SELECT doc_id, CAST(SUM(lum) AS BIGINT) AS s FROM lum
          GROUP BY doc_id),
        bits AS (SELECT l.doc_id, l.p,
            CASE WHEN l.lum * 64 >= s.s THEN 1 ELSE 0 END AS b
          FROM lum l JOIN s USING (doc_id)),
        h AS (SELECT doc_id,
            CAST(SUM(CASE WHEN p < 32
              THEN b * CAST(POWER(2, p) AS BIGINT) ELSE 0 END)
              AS BIGINT) AS lo,
            CAST(SUM(CASE WHEN p >= 32
              THEN b * CAST(POWER(2, p - 32) AS BIGINT) ELSE 0 END)
              AS BIGINT) AS hi
          FROM bits GROUP BY doc_id),
        pr AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
          FROM h a JOIN h b ON a.doc_id < b.doc_id
          WHERE bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo))
            <= 3),
        edges AS (
          SELECT id_a AS es, id_b AS et FROM pr
          UNION ALL SELECT id_b, id_a FROM pr),
        reach(es, et) AS (
          SELECT es, et FROM edges
          UNION
          SELECT r.es, e.et FROM reach r JOIN edges e ON r.et = e.es)
        SELECT es AS doc_id, LEAST(es, MIN(et)) AS cluster_id
        FROM reach GROUP BY es ORDER BY doc_id""")),

    // ---- REAL video frame sampling (multi-frame GIF via JDK ImageIO) ---
    // The third modality out of stub-land: each row's payload is an
    // actual animated GIF89a (one image stream per frame, hand-rolled
    // literal-LZW encoder), frame extraction goes through the JDK's
    // certified multi-frame ImageIO GIF reader, and every 2nd frame is
    // reduced to its integer luminance sum. Frame count and pixels are
    // pure md5-formula functions of doc_id, so the oracle replays the
    // formula — the cross-engine hash match certifies container
    // structure (n_frames out of the real decode), the sampling stride,
    // and the decoded pixel content. Decode is partition-local; only
    // (id, frame_idx, 2 longs) rows reach the exchange.
    QueryDef(
      "q181_video_frames",
      (s, dir) => {
        import s.implicits._
        val media = Multimodal.withSyntheticGif(
          table(s, dir, "documents").select($"doc_id"), "doc_id")
        // checkpoint the NARROW stats rows before the range sort: the
        // global orderBy's boundary-sampling pass would otherwise
        // re-execute the whole encode+decode chain (measured: the sort
        // doubled q181's wall time). The checkpoint holds 4 longs/frame
        // — container bytes never materialize.
        Multimodal.sampleGifFrameStats(media, "payload", "doc_id", everyN = 2)
          .localCheckpoint(false)
          .orderBy($"doc_id", $"frame_idx")
      },
      Some("""WITH d AS (SELECT doc_id, 4 + doc_id % 5 AS nf FROM documents),
        fr AS (SELECT doc_id, nf, CAST(u.f AS BIGINT) AS f
          FROM d, UNNEST(range(0, nf)) u(f) WHERE u.f % 2 = 0),
        px AS (SELECT doc_id, nf, f,
            CAST(('0x' || substr(md5(doc_id || ':' || f || ':' || b.blk),
              CAST(2 * t.i + 1 AS INT), 2)) AS BIGINT) AS lum
          FROM fr, UNNEST(range(0, 4)) b(blk), UNNEST(range(0, 16)) t(i))
        SELECT doc_id, f AS frame_idx, CAST(MAX(nf) AS BIGINT) AS n_frames,
          CAST(SUM(lum) AS BIGINT) AS sum_lum
        FROM px GROUP BY doc_id, f ORDER BY doc_id, frame_idx""")),

    // ---- REAL audio decode (JDK javax.sound.sampled, no external jars) -
    // The audio sibling of q46: each row's payload is an actual
    // RIFF/WAVE 16-bit PCM mono clip written by the minimal hand-rolled
    // encoder, decoded back through the JDK's certified
    // javax.sound.sampled reader, and reduced to integer-exact features
    // (peak, Σs², zero crossings) computed from the DECODED samples.
    // The oracle replays the sample FORMULA (all BIGINT arithmetic), so
    // the cross-engine hash match certifies the whole encode→decode→
    // feature round-trip. Decode is partition-local; only 5 longs per
    // row ever reach the exchange — audio bytes never do, which is the
    // shape that holds at 100 TB of audio.
    QueryDef(
      "q178_audio_decode",
      (s, dir) => {
        import s.implicits._
        val media = Multimodal.withSyntheticWav(
          table(s, dir, "documents").select($"doc_id"), "doc_id")
        Multimodal.withAudioFeatures(media, "payload")
          .select($"doc_id", $"sample_rate", $"n_samples", $"peak",
            $"sum_sq", $"zero_cross")
          .orderBy($"doc_id")
      },
      Some("""WITH d AS (SELECT doc_id,
            1600 + (doc_id % 32) * 50 AS n,
            256 + (doc_id % 8) * 256 AS amp
          FROM documents),
        s AS (SELECT doc_id, n, CAST(u.t AS BIGINT) AS t,
            ((doc_id * 7919 + u.t * 104729) % (2 * amp + 1)) - amp AS v,
            CASE WHEN u.t = 0 THEN NULL ELSE
              ((doc_id * 7919 + (u.t - 1) * 104729) % (2 * amp + 1)) - amp
            END AS vp
          FROM d, UNNEST(range(0, n)) u(t))
        SELECT doc_id,
          CAST(8000 AS BIGINT) AS sample_rate,
          CAST(COUNT(*) AS BIGINT) AS n_samples,
          CAST(MAX(ABS(v)) AS BIGINT) AS peak,
          CAST(SUM(v * v) AS BIGINT) AS sum_sq,
          CAST(SUM(CASE WHEN vp IS NOT NULL
            AND (vp >= 0) <> (v >= 0) THEN 1 ELSE 0 END) AS BIGINT)
            AS zero_cross
        FROM s GROUP BY doc_id ORDER BY doc_id""")),

    // ---- audio curation gate over decoded features ----------------------
    // The audio member of the quality-gate family (q82/q96/q103 for
    // text): first-matching-rule classification on the decoded-sample
    // features — clipping (peak at the 16-bit-ish rail), too-short
    // clips, low-energy clips — aggregated to a per-reason report. The
    // thresholds are part of the verified semantics: the oracle applies
    // the same rule ladder to the formula-replayed samples, so agreement
    // certifies both the decode and the gate.
    QueryDef(
      "q179_audio_gate",
      (s, dir) => {
        import s.implicits._
        val media = Multimodal.withSyntheticWav(
          table(s, dir, "documents").select($"doc_id"), "doc_id")
        Multimodal.withAudioGate(media, "payload")
          .groupBy($"reason")
          .agg(count(lit(1)).as("n_docs"),
            sum($"n_samples").as("total_samples"),
            max($"peak").as("max_peak"))
          .sortBounded($"reason")
      },
      Some("""WITH d AS (SELECT doc_id,
            1600 + (doc_id % 32) * 50 AS n,
            256 + (doc_id % 8) * 256 AS amp
          FROM documents),
        s AS (SELECT doc_id, n, CAST(u.t AS BIGINT) AS t,
            ((doc_id * 7919 + u.t * 104729) % (2 * amp + 1)) - amp AS v
          FROM d, UNNEST(range(0, n)) u(t)),
        f AS (SELECT doc_id,
            CAST(COUNT(*) AS BIGINT) AS n_samples,
            CAST(MAX(ABS(v)) AS BIGINT) AS peak,
            CAST(SUM(v * v) AS BIGINT) AS sum_sq
          FROM s GROUP BY doc_id),
        g AS (SELECT *,
            CASE WHEN peak >= 2040 THEN 'clipping'
                 WHEN n_samples < 1700 THEN 'too_short'
                 WHEN sum_sq < n_samples * 30000 THEN 'low_energy'
                 ELSE 'keep' END AS reason
          FROM f)
        SELECT reason, COUNT(*) AS n_docs,
          CAST(SUM(n_samples) AS BIGINT) AS total_samples,
          MAX(peak) AS max_peak
        FROM g GROUP BY reason ORDER BY reason""")),

    // ---- acoustic near-dup dedup (envelope fingerprint over decoded) ---
    // Completes the modality-dedup triangle (text: q28/q29/q47, image:
    // q175/q176, audio: here): every document carries a REAL WAV clip
    // whose shape comes from class doc_id % 25 plus one noise sample —
    // same-class clips are acoustic near-dups, not byte-dups. The
    // 8-block quantized energy envelope is computed from the DECODED
    // samples and packed into one long; keep-one clusters come from a
    // fingerprint groupBy + equi-join (the q20 shape). The oracle
    // replays clip formula, envelope, quantization and packing in
    // BIGINT arithmetic — agreement certifies decode AND the acoustic
    // key. Only (id, fp) longs shuffle; audio bytes never do.
    QueryDef(
      "q182_audio_dedup",
      (s, dir) => {
        import s.implicits._
        val media = Multimodal.withSyntheticClassWav(
          table(s, dir, "documents").select($"doc_id"), "doc_id", 25)
        val sig = Multimodal.withAudioFingerprint(media, "payload")
          .select($"doc_id", $"audio_fp")
        Multimodal.audioDedup(sig, "doc_id")
          .orderBy($"doc_id")
      },
      Some("""WITH p AS (SELECT doc_id, doc_id % 25 AS c,
            1600 + ((doc_id % 25) % 16) * 16 AS n,
            900 + ((doc_id % 25) % 4) * 300 AS amp
          FROM documents),
        s AS (SELECT doc_id, n, CAST(u.t AS BIGINT) AS t,
            CASE WHEN u.t = doc_id % n
              THEN xor(((c * 104729 + u.t * 7919) % (2 * amp + 1)) - amp, 1)
              ELSE ((c * 104729 + u.t * 7919) % (2 * amp + 1)) - amp
            END AS v
          FROM p, UNNEST(range(0, n)) u(t)),
        blk AS (SELECT doc_id, (t * 8) // n AS b,
            CAST(SUM(ABS(v)) AS BIGINT) AS sab,
            CAST(COUNT(*) AS BIGINT) AS cnt
          FROM s GROUP BY doc_id, (t * 8) // n),
        f AS (SELECT doc_id,
            CAST(SUM(((sab // (cnt * 16)) % 128)
              * CAST(POWER(2, 7 * b) AS BIGINT)) AS BIGINT) AS fp
          FROM blk GROUP BY doc_id),
        k AS (SELECT fp, MIN(doc_id) AS cluster_id FROM f GROUP BY fp)
        SELECT f.doc_id, k.cluster_id,
          f.doc_id <> k.cluster_id AS is_dup
        FROM f JOIN k ON f.fp = k.fp
        ORDER BY f.doc_id""")),

    // ---- video near-dup dedup (frame-hash inverted index) --------------
    // Completes the modality-dedup family for VIDEO: every document
    // carries a real animated GIF whose first nf−1 frames are shared by
    // its class (c = doc_id % 30) and whose last frame is doc-specific
    // noise — same-class videos are near-dups (≥3 shared frames), never
    // byte-dups. Per-frame aHashes come out of the REAL decode; the
    // near-dup key is "≥3 shared distinct frame hashes", found by the
    // prefix-filtered frame-hash inverted index + exact-count join-back
    // (round-17 `videoNearDups` — lossless here: no bucket near the
    // cap, every video ≤ 8 frames so the proportional bar reduces to
    // the absolute rule), resolved to keep-one clusters by minimum-id
    // connected components. The oracle replays pixels → aHash bits →
    // pair counts → recursive closure, so the cross-engine hash match
    // certifies container decode, the frame key, and the clustering.
    // Only 24-byte hash rows ever shuffle; at 100 TB the posting-list
    // length per frame hash (true dup rate), not corpus size, bounds
    // the join fanout.
    QueryDef(
      "q183_video_dedup",
      (s, dir) => {
        import s.implicits._
        val media = Multimodal.withSyntheticClassGif(
          table(s, dir, "documents").select($"doc_id"), "doc_id", 30)
        val fh = Multimodal.withFrameHashes(media, "payload", "doc_id")
        Multimodal.videoDedup(fh, "doc_id", minShared = 3)
          .orderBy($"doc_id")
      },
      Some("""WITH RECURSIVE d AS (SELECT doc_id, doc_id % 30 AS c,
            4 + (doc_id % 30) % 5 AS nf FROM documents),
        fr AS (SELECT doc_id, nf, CAST(u.f AS BIGINT) AS f,
            CASE WHEN u.f < nf - 1 THEN 'v' || c || ':' || u.f
              ELSE 'n' || doc_id END AS key
          FROM d, UNNEST(range(0, nf)) u(f)),
        px AS (SELECT doc_id, f, CAST(16 * b.blk + t.i AS BIGINT) AS p,
            CAST(('0x' || substr(md5(key || ':' || b.blk),
              CAST(2 * t.i + 1 AS INT), 2)) AS BIGINT) AS lum
          FROM fr, UNNEST(range(0, 4)) b(blk), UNNEST(range(0, 16)) t(i)),
        s AS (SELECT doc_id, f, CAST(SUM(lum) AS BIGINT) AS s
          FROM px GROUP BY doc_id, f),
        bits AS (SELECT px.doc_id, px.f, px.p,
            CASE WHEN px.lum * 64 >= s.s THEN 1 ELSE 0 END AS b
          FROM px JOIN s ON px.doc_id = s.doc_id AND px.f = s.f),
        h AS (SELECT doc_id, f,
            CAST(SUM(CASE WHEN p < 32
              THEN b * CAST(POWER(2, p) AS BIGINT) ELSE 0 END)
              AS BIGINT) AS lo,
            CAST(SUM(CASE WHEN p >= 32
              THEN b * CAST(POWER(2, p - 32) AS BIGINT) ELSE 0 END)
              AS BIGINT) AS hi
          FROM bits GROUP BY doc_id, f),
        hd AS (SELECT DISTINCT doc_id, hi, lo FROM h),
        pr AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
          FROM hd a JOIN hd b
            ON a.hi = b.hi AND a.lo = b.lo AND a.doc_id < b.doc_id
          GROUP BY a.doc_id, b.doc_id HAVING COUNT(*) >= 3),
        edges AS (SELECT id_a AS es, id_b AS et FROM pr
          UNION ALL SELECT id_b, id_a FROM pr),
        reach(es, et) AS (SELECT es, et FROM edges
          UNION
          SELECT r.es, e.et FROM reach r JOIN edges e ON r.et = e.es),
        lab AS (SELECT es AS doc_id, LEAST(es, MIN(et)) AS cluster_id
          FROM reach GROUP BY es)
        SELECT d.doc_id, COALESCE(lab.cluster_id, d.doc_id) AS cluster_id,
          d.doc_id <> COALESCE(lab.cluster_id, d.doc_id) AS is_dup
        FROM d LEFT JOIN lab ON d.doc_id = lab.doc_id
        ORDER BY d.doc_id""")),

    // ---- scene-change detection (temporal delta over real decode) ------
    // The temporal face of the video family: each document's GIF has two
    // md5-noise "scenes" joined at a known cut frame, with a +2/frame
    // brightness ramp inside each scene — so consecutive-frame deltas
    // are exactly 128 within a scene and md5-noise (≈2700) across the
    // cut. The operator decodes the real container and reduces each pair of
    // consecutive frames to Σ|Δlum| entirely inside the decode task
    // (zero shuffle; only 5-long rows leave). The oracle replays pixels
    // and deltas, certifying decode, frame ORDER out of the container,
    // and the cut logic.
    QueryDef(
      "q184_scene_cuts",
      (s, dir) => {
        import s.implicits._
        val media = Multimodal.withSyntheticSceneGif(
          table(s, dir, "documents").select($"doc_id"), "doc_id")
        Multimodal.sceneChangeStats(media, "payload", "doc_id",
          threshold = 1000L)
          .orderBy($"doc_id")
      },
      Some("""WITH d AS (SELECT doc_id, 6 + doc_id % 3 AS nf,
            2 + doc_id % 3 AS k FROM documents),
        fr AS (SELECT doc_id, nf, k, CAST(u.f AS BIGINT) AS f
          FROM d, UNNEST(range(0, nf)) u(f)),
        px AS (SELECT doc_id, nf, f, CAST(16 * b.blk + t.i AS BIGINT) AS p,
            (CAST(('0x' || substr(md5(CASE WHEN f < k THEN 'sa' ELSE 'sb'
                END || doc_id || ':' || b.blk),
              CAST(2 * t.i + 1 AS INT), 2)) AS BIGINT) % 128) + 2 * f
              AS lum
          FROM fr, UNNEST(range(0, 4)) b(blk), UNNEST(range(0, 16)) t(i)),
        dl AS (SELECT a.doc_id, a.nf, a.f,
            CAST(SUM(ABS(a.lum - b.lum)) AS BIGINT) AS delta
          FROM px a JOIN px b
            ON a.doc_id = b.doc_id AND a.p = b.p AND b.f = a.f - 1
          GROUP BY a.doc_id, a.nf, a.f)
        SELECT doc_id, CAST(MAX(nf) AS BIGINT) AS n_frames,
          CAST(SUM(CASE WHEN delta > 1000 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_cuts,
          MIN(CASE WHEN delta > 1000 THEN f END) AS first_cut,
          CAST(SUM(delta) AS BIGINT) AS activity
        FROM dl GROUP BY doc_id ORDER BY doc_id""")),

    // ---- cross-modal curation gate -------------------------------------
    // The join face of the multimodal family: a training-corpus document
    // carries text + an audio clip + a video, each curated by its own
    // modality gate (q179 rule ladder over decoded samples, q184
    // temporal-activity report over decoded frames, q21 token kernel
    // over the text), and the final keep verdict is the conjunction.
    // Three per-doc-keyed derived tables meet in doc_id equi-joins — at
    // 100 TB these are the co-partitioned media/text table joins a real
    // pipeline runs (media bytes reduce to verdict rows partition-
    // locally BEFORE the join; payloads never shuffle). Every branch's
    // formula is oracle-replayable, so the hash match certifies all
    // three decodes AND the join/conjunction.
    QueryDef(
      "q185_crossmodal_gate",
      (s, dir) => {
        import s.implicits._
        val docs = table(s, dir, "documents").select($"doc_id", $"text")
        val audio = Multimodal.withAudioGate(
            Multimodal.withSyntheticWav(docs.select($"doc_id"), "doc_id"),
            "payload")
          .select($"doc_id", $"reason".as("audio_reason"))
        val video = Multimodal.sceneChangeStats(
            Multimodal.withSyntheticSceneGif(docs.select($"doc_id"),
              "doc_id"), "payload", "doc_id", threshold = 1000L)
          .select($"doc_id", $"n_cuts", $"activity")
        val text = docs.select($"doc_id",
          regexp_count($"text", lit("\\S+")).as("n_tokens"))
        text.join(audio, Seq("doc_id")).join(video, Seq("doc_id"))
          .select($"doc_id", $"audio_reason", $"n_tokens", $"n_cuts",
            $"activity",
            ($"audio_reason" === "keep" && $"activity" <= 3300L &&
              $"n_tokens" >= 5).as("keep"))
          .orderBy($"doc_id")
      },
      Some("""WITH ad AS (SELECT doc_id, 1600 + (doc_id % 32) * 50 AS n,
            256 + (doc_id % 8) * 256 AS amp FROM documents),
        asamp AS (SELECT doc_id, CAST(u.t AS BIGINT) AS t,
            ((doc_id * 7919 + u.t * 104729) % (2 * amp + 1)) - amp AS v
          FROM ad, UNNEST(range(0, n)) u(t)),
        af AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_samples,
            CAST(MAX(ABS(v)) AS BIGINT) AS peak,
            CAST(SUM(v * v) AS BIGINT) AS sum_sq
          FROM asamp GROUP BY doc_id),
        ag AS (SELECT doc_id,
            CASE WHEN peak >= 2040 THEN 'clipping'
                 WHEN n_samples < 1700 THEN 'too_short'
                 WHEN sum_sq < n_samples * 30000 THEN 'low_energy'
                 ELSE 'keep' END AS audio_reason
          FROM af),
        vd AS (SELECT doc_id, 6 + doc_id % 3 AS nf, 2 + doc_id % 3 AS k
          FROM documents),
        vfr AS (SELECT doc_id, nf, k, CAST(u.f AS BIGINT) AS f
          FROM vd, UNNEST(range(0, nf)) u(f)),
        vpx AS (SELECT doc_id, f, CAST(16 * b.blk + t.i AS BIGINT) AS p,
            (CAST(('0x' || substr(md5(CASE WHEN f < k THEN 'sa' ELSE 'sb'
                END || doc_id || ':' || b.blk),
              CAST(2 * t.i + 1 AS INT), 2)) AS BIGINT) % 128) + 2 * f
              AS lum
          FROM vfr, UNNEST(range(0, 4)) b(blk), UNNEST(range(0, 16)) t(i)),
        vdl AS (SELECT a.doc_id, a.f,
            CAST(SUM(ABS(a.lum - b.lum)) AS BIGINT) AS delta
          FROM vpx a JOIN vpx b
            ON a.doc_id = b.doc_id AND a.p = b.p AND b.f = a.f - 1
          GROUP BY a.doc_id, a.f),
        vg AS (SELECT doc_id,
            CAST(SUM(CASE WHEN delta > 1000 THEN 1 ELSE 0 END) AS BIGINT)
              AS n_cuts,
            CAST(SUM(delta) AS BIGINT) AS activity
          FROM vdl GROUP BY doc_id),
        tg AS (SELECT doc_id,
            len(list_filter(regexp_split_to_array(text, '\s+'),
              t -> t <> '')) AS n_tokens
          FROM documents)
        SELECT t.doc_id, a.audio_reason, t.n_tokens, v.n_cuts, v.activity,
          a.audio_reason = 'keep' AND v.activity <= 3300
            AND t.n_tokens >= 5 AS keep
        FROM tg t JOIN ag a ON t.doc_id = a.doc_id
          JOIN vg v ON t.doc_id = v.doc_id
        ORDER BY t.doc_id""")),

    // ---- exact char-n-gram Jaccard (inverted index + df-pruning) -------
    // The fourth dedup family (exact set similarity, not sketched): the
    // oracle rebuilds the identical gram sets, applies the same
    // stop-gram pruning, and recomputes every pairwise Jaccard — the
    // maxDf guard is part of the verified semantics, since it's what
    // bounds posting lists (and thus pair work) at corpus scale.
    QueryDef(
      "q47_ngram_jaccard",
      (s, dir) => {
        import s.implicits._
        Dedup.ngramJaccardNearDups(table(s, dir, "documents"),
            "text", "doc_id", n = 4, threshold = 0.5, maxDf = 10)
          .select($"id_a", $"id_b", round($"jaccard", 5).as("jaccard"))
          .orderBy($"id_a", $"id_b")
      },
      Some("""WITH norm AS (
          SELECT doc_id, trim(regexp_replace(regexp_replace(lower(text),
            '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS t
          FROM documents),
        grams AS (
          SELECT DISTINCT doc_id, substr(t, CAST(i AS INT), 4) AS g
          FROM norm, UNNEST(range(1, GREATEST(length(t) - 3, 0) + 1)) s(i)),
        kept AS (SELECT g FROM grams GROUP BY g HAVING COUNT(*) <= 10),
        kg AS (SELECT gr.doc_id, gr.g FROM grams gr JOIN kept k ON gr.g = k.g),
        sizes AS (SELECT doc_id, COUNT(*) AS sz FROM kg GROUP BY doc_id),
        common AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS c
          FROM kg a JOIN kg b ON a.g = b.g AND a.doc_id < b.doc_id
          GROUP BY a.doc_id, b.doc_id),
        jc AS (
          SELECT id_a, id_b, CAST(c AS DOUBLE) / (sa.sz + sb.sz - c) AS j
          FROM common
          JOIN sizes sa ON sa.doc_id = id_a
          JOIN sizes sb ON sb.doc_id = id_b)
        SELECT id_a, id_b, ROUND(j, 5) AS jaccard FROM jc
        WHERE j >= 0.5 ORDER BY id_a, id_b"""))
  )
}
