package graft.queries

import org.apache.spark.sql.functions._
import QueryDef.table

/** The composed training-data pipeline (round-5 brief): every stage of
  * [[graft.ops.Pipeline.curate]] replayed relationally by the oracle —
  * quality gate, PII scrub, exact dedup, brute-force Jaccard near-dup
  * pairs + recursive transitive closure (certifying the banded-LSH +
  * connected-components formulation end to end), shingle decontamination, and
  * the global prefix-sum packing. The oracle reuses the exact CTE
  * fragments already certified one-by-one in q48/q49/q20/q28/q39/q50/
  * q52, chained on each stage's survivor set.
  */
object PipelineQueries {

  /** Stages 1–5 of the q55 chain (quality gate → PII scrub → exact
    * dedup → near-dup closure → decontamination) as a CTE block ending
    * at `keep3` — shared by q55 (whitespace-token packing) and q80
    * (survivor-trained BPE packing).
    */
  private val stageCtes: String = raw"""
        t0 AS (SELECT doc_id, text FROM documents),
        -- stage 1: Gopher repetition gate (q48 fragments) + min length
        tok AS (SELECT doc_id,
            list_filter(regexp_split_to_array(lower(text), '\s+'),
              x -> x <> '') AS toks
          FROM t0),
        b AS (SELECT doc_id, toks, len(toks) AS n,
            len(list_distinct(toks)) AS u FROM tok),
        bg AS (SELECT doc_id,
            unnest(list_transform(range(1, n), i -> toks[i] || ' ' || toks[i+1])) AS g
          FROM b),
        bgc AS (SELECT doc_id, g, COUNT(*) AS c FROM bg GROUP BY doc_id, g),
        mxt AS (SELECT doc_id, MAX(c) AS mx FROM bgc GROUP BY doc_id),
        qual AS (
          SELECT b.doc_id FROM b LEFT JOIN mxt USING (doc_id)
          WHERE b.doc_id % 50 <> 0 AND n >= 5
            AND NOT ((1.0 - CAST(u AS DOUBLE) / n) > 0.6
              OR (n >= 2 AND CAST(mx AS DOUBLE) / (n - 1) > 0.05))),
        -- stage 2: PII scrub (q49 regex chain)
        scrub AS (SELECT d.doc_id,
            regexp_replace(regexp_replace(regexp_replace(d.text,
              '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
              '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g'),
              '\+[0-9]{1,2}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g') AS text
          FROM t0 d JOIN qual USING (doc_id)),
        -- stage 3: exact dedup (q20 rule)
        normd AS (SELECT doc_id,
            trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
              ' +', ' ', 'g')) AS nt
          FROM scrub),
        keep1 AS (SELECT MIN(doc_id) AS doc_id FROM normd GROUP BY md5(nt)),
        -- stage 4: near-dup pairs (q28 brute-force oracle) + transitive
        -- closure cluster resolution (q39), keep the min-id representative
        ntoks AS (SELECT n2.doc_id,
            list_filter(regexp_split_to_array(n2.nt, ' '), x -> x <> '') AS toks
          FROM normd n2 JOIN keep1 USING (doc_id)),
        sh AS (SELECT doc_id,
            CASE WHEN len(toks) < 3 THEN
              CASE WHEN len(toks) = 0 THEN [] ELSE [array_to_string(toks, ' ')] END
            ELSE list_distinct(list_transform(range(len(toks) - 2),
              i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]))
            END AS sset
          FROM ntoks),
        p AS (SELECT a.doc_id AS id_a, b2.doc_id AS id_b
          FROM sh a JOIN sh b2 ON a.doc_id < b2.doc_id
          WHERE CAST(len(list_intersect(a.sset, b2.sset)) AS DOUBLE) /
            (len(a.sset) + len(b2.sset) - len(list_intersect(a.sset, b2.sset)))
            >= 0.8),
        edges AS (SELECT id_a AS s, id_b AS t FROM p
          UNION ALL SELECT id_b, id_a FROM p),
        reach(s, t) AS (
          SELECT s, t FROM edges
          UNION
          SELECT r.s, e.t FROM reach r JOIN edges e ON r.t = e.s),
        clus AS (SELECT s AS doc_id, LEAST(s, MIN(t)) AS cluster_id
          FROM reach GROUP BY s),
        keep2 AS (SELECT k.doc_id FROM keep1 k LEFT JOIN clus c USING (doc_id)
          WHERE c.cluster_id IS NULL OR c.cluster_id = k.doc_id),
        -- stage 5: decontamination (q50 rule; eval = raw doc_id%50=0 text)
        evtok AS (SELECT doc_id,
            list_filter(regexp_split_to_array(lower(text), '\s+'),
              x -> x <> '') AS toks
          FROM t0 WHERE doc_id % 50 = 0),
        ev AS (SELECT DISTINCT
            unnest(list_distinct(list_transform(range(1, len(toks) - 2),
              i -> array_to_string(toks[i:i+3], ' ')))) AS sgl
          FROM evtok WHERE len(toks) >= 4),
        trsh AS (SELECT s2.doc_id,
            unnest(list_distinct(list_transform(range(1, len(s2.toks) - 2),
              i -> array_to_string(s2.toks[i:i+3], ' ')))) AS sgl
          FROM (SELECT sc.doc_id,
              list_filter(regexp_split_to_array(lower(sc.text), '\s+'),
                x -> x <> '') AS toks
            FROM scrub sc JOIN keep2 USING (doc_id)) s2
          WHERE len(s2.toks) >= 4),
        contam AS (SELECT DISTINCT t2.doc_id FROM trsh t2 JOIN ev USING (sgl)),
        keep3 AS (SELECT doc_id FROM keep2
          WHERE doc_id NOT IN (SELECT doc_id FROM contam))"""

  val defs: Seq[QueryDef] = Seq(
    QueryDef(
      "q55_pipeline",
      (s, dir) => {
        import s.implicits._
        graft.ops.Pipeline.curate(table(s, dir, "documents"))
          .orderBy($"doc_id")
      },
      Some("WITH RECURSIVE" + stageCtes + raw""",
        -- stage 6: packing (q52 rule, capacity 256)
        ptok AS (SELECT sc.doc_id,
            len(list_filter(regexp_split_to_array(sc.text, '\s+'),
              x -> x <> '')) AS ntok
          FROM scrub sc JOIN keep3 USING (doc_id)),
        c2 AS (SELECT doc_id, ntok,
            COALESCE(SUM(ntok) OVER (ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bef
          FROM ptok)
        SELECT doc_id, CAST(ntok AS BIGINT) AS n_tokens,
          CAST(bef // 256 AS BIGINT) AS pack_id
        FROM c2 ORDER BY doc_id""")),

    // ---- tokenizer-aware curation: pack by TRAINED-BPE token counts ----
    // The q55 chain, then a BPE tokenizer trained ON THE SURVIVORS (the
    // q72 machinery — merges learned after cleaning, so boilerplate and
    // near-dups don't dominate pair counts) and packing by the q77
    // apply kernel's n_bpe_tokens instead of whitespace counts:
    // sequences are packed by what the model will actually consume. The
    // oracle replays the whole composition — five curation stages, all
    // 8 merge rounds, the per-word apply chain, and the packing prefix
    // sum — in ONE recursive SQL statement built from the same CTE
    // fragments q55/q72/q77 already certify.
    QueryDef(
      "q80_bpe_pack",
      (s, dir) => {
        import s.implicits._
        graft.ops.Pipeline.curateBpePack(table(s, dir, "documents"))
          .orderBy($"doc_id")
      },
      Some("WITH RECURSIVE" + stageCtes + raw""",
        -- MATERIALIZED: surv is read by the trainer, the apply pass and
        -- the pack join; DuckDB would otherwise inline the whole
        -- five-stage upstream (including the recursive closure) into
        -- every reference and re-open the parquet per copy
        surv AS MATERIALIZED (SELECT sc.doc_id, sc.text
          FROM scrub sc JOIN keep3 USING (doc_id)),
        """ + CorpusQueries.bpeTrainCtes(8, "surv") +
        CorpusQueries.bpeApplyCtes(8, "surv") + raw""",
        tokn AS (SELECT s3.doc_id, COALESCE(cnt.n_bpe_tokens, 0) AS ntok
          FROM surv s3 LEFT JOIN cnt USING (doc_id)),
        c2 AS (SELECT doc_id, ntok,
            COALESCE(SUM(ntok) OVER (ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bef
          FROM tokn)
        SELECT doc_id, CAST(ntok AS BIGINT) AS n_bpe_tokens,
          CAST(bef // 256 AS BIGINT) AS pack_id
        FROM c2 ORDER BY doc_id"""))
  )
}
