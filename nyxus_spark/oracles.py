"""DuckDB oracle-SQL builders for the driver's correctness gate.

Each builder emits SQL that re-implements an operator's semantics from
scratch in DuckDB (unnest/window/list functions), sharing ONLY integer
constants with the Spark implementation (nyxus_spark/operators/dedup.py) —
the code paths are fully independent, which is what makes the comparison an
oracle rather than a tautology.
"""

from __future__ import annotations

from nyxus_spark.functions.sketch import sql_cms_bucket, sql_hll_cte  # noqa: F401
from nyxus_spark.functions.text import sql_priority_sample  # noqa: F401
from nyxus_spark.operators.dedup import sql_minhash_corpus_cte  # noqa: F401
from nyxus_spark.operators.dedup import MIX, P31
from nyxus_spark.sources.tables import SQL_TOKENS_STATIC

K_SHINGLE = 3
NUM_HASHES = 16
NUM_BANDS = 4
ROWS_PER_BAND = NUM_HASHES // NUM_BANDS

# augmented corpus with injected duplicates (exact: doc_id%25, near: doc_id%10)
SQL_AUG = f"""
{SQL_TOKENS_STATIC},
aug AS (
  SELECT doc_id, tokens, n_tok, source FROM tokens_static
  UNION ALL
  SELECT 'dup_' || doc_id, tokens, n_tok, source FROM tokens_static
  WHERE CAST(substr(doc_id, 5) AS INTEGER) % 25 = 0
  UNION ALL
  SELECT 'near_' || doc_id, tokens[2:], n_tok - 1, source FROM tokens_static
  WHERE CAST(substr(doc_id, 5) AS INTEGER) % 10 = 0
)
""".strip()


def sql_dedup_clusters(jaccard_threshold: float = 0.5) -> str:
    """Connected components over the near-dup pair graph as a DuckDB
    RECURSIVE CTE fixpoint: reach(id, label) closes over the undirected
    edges; min(label) per id = the component's smallest member — the same
    canonical representative the Spark iterative min-label propagation
    converges to (operators/dedup.py connected_components).

    `pairs` is MATERIALIZED: the unrolled PageRank and k-core CTEs read it
    dozens of times, and DuckDB inlines a plain CTE at every reference, so
    the MinHash pipeline would rerun per reference and spill gigabytes."""
    return f"""
WITH RECURSIVE pairs AS MATERIALIZED (
{sql_minhash_pairs(jaccard_threshold)}
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b AS src, id_a AS dst FROM pairs
),
reach(id, label) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.id
),
comp AS (SELECT id AS doc_id, min(label) AS rep FROM reach GROUP BY id),
sizes AS (SELECT rep, CAST(COUNT(*) AS BIGINT) AS cluster_size FROM comp GROUP BY rep),
{SQL_AUG},
best AS (  -- quality-aware representative: longest doc, ties -> lowest id
  SELECT rep, doc_id AS best_doc, CAST(n_tok AS BIGINT) AS best_n_tok
  FROM (
    SELECT c.rep, c.doc_id, a.n_tok,
           row_number() OVER (PARTITION BY c.rep
                              ORDER BY a.n_tok DESC, c.doc_id ASC) AS rn
    FROM comp c JOIN aug a USING (doc_id)
  ) WHERE rn = 1
),
tri AS (  -- wedge-close triangle enumeration: each a<b<c exactly once
  SELECT e1.id_a AS a, e1.id_b AS b, e2.id_b AS c
  FROM pairs e1 JOIN pairs e2 ON e2.id_a = e1.id_b
       JOIN pairs e3 ON e3.id_a = e1.id_a AND e3.id_b = e2.id_b
),
deg AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS deg_cnt FROM (
    SELECT id_a AS doc_id FROM pairs
    UNION ALL SELECT id_b AS doc_id FROM pairs) GROUP BY doc_id
),
tric AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS tri_cnt FROM (
    SELECT a AS doc_id FROM tri
    UNION ALL SELECT b AS doc_id FROM tri
    UNION ALL SELECT c AS doc_id FROM tri) GROUP BY doc_id
),
pedges AS (  -- PageRank replay: symmetric edges, deg >= 1 everywhere
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b AS src, id_a AS dst FROM pairs
),
pdeg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS dg FROM pedges GROUP BY src),
pn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM pdeg),
pr0 AS (SELECT src AS v, CAST(1 AS DOUBLE) / n AS r FROM pdeg, pn),
pr1 AS (  -- each round: base/N + d * source-id-ordered sequential fold
  SELECT e.dst AS v,
         CAST(0.15 AS DOUBLE) / (SELECT n FROM pn)
         + CAST(0.85 AS DOUBLE)
           * list_reduce(list(p.r / d.dg ORDER BY e.src), (a, b) -> a + b) AS r
  FROM pedges e JOIN pr0 p ON p.v = e.src JOIN pdeg d ON d.src = e.src
  GROUP BY e.dst
),
pr2 AS (
  SELECT e.dst AS v,
         CAST(0.15 AS DOUBLE) / (SELECT n FROM pn)
         + CAST(0.85 AS DOUBLE)
           * list_reduce(list(p.r / d.dg ORDER BY e.src), (a, b) -> a + b) AS r
  FROM pedges e JOIN pr1 p ON p.v = e.src JOIN pdeg d ON d.src = e.src
  GROUP BY e.dst
),
pr3 AS (
  SELECT e.dst AS v,
         CAST(0.15 AS DOUBLE) / (SELECT n FROM pn)
         + CAST(0.85 AS DOUBLE)
           * list_reduce(list(p.r / d.dg ORDER BY e.src), (a, b) -> a + b) AS r
  FROM pedges e JOIN pr2 p ON p.v = e.src JOIN pdeg d ON d.src = e.src
  GROUP BY e.dst
),
prf AS (
  SELECT e.dst AS v,
         CAST(0.15 AS DOUBLE) / (SELECT n FROM pn)
         + CAST(0.85 AS DOUBLE)
           * list_reduce(list(p.r / d.dg ORDER BY e.src), (a, b) -> a + b) AS r
  FROM pedges e JOIN pr3 p ON p.v = e.src JOIN pdeg d ON d.src = e.src
  GROUP BY e.dst
),
{sql_kcore(rounds=4, ks=(2, 3))},
ced AS (  -- intra-cluster candidate-edge counts (transitivity audit)
  SELECT cm.rep, CAST(COUNT(*) AS BIGINT) AS cl_edges
  FROM pairs p JOIN comp cm ON cm.doc_id = p.id_a
  GROUP BY cm.rep
),
cdn AS (
  SELECT s2.rep, cd.cl_edges,
         CAST((s2.cluster_size * (s2.cluster_size - 1)) // 2 AS BIGINT)
           AS cl_possible,
         CAST((s2.cluster_size * (s2.cluster_size - 1)) // 2 - cd.cl_edges
              AS BIGINT) AS cl_missing,
         FLOOR((cd.cl_edges
                / ((s2.cluster_size * (s2.cluster_size - 1)) // 2))
               * 10000.0 + 0.5) / 10000.0 AS cl_density4
  FROM sizes s2 JOIN ced cd USING (rep)
)
SELECT c.doc_id, c.rep, s.cluster_size, b.best_doc, b.best_n_tok,
       CASE WHEN c.doc_id = b.best_doc THEN 1 ELSE 0 END AS is_best,
       dg.deg_cnt,
       COALESCE(tc.tri_cnt, 0) AS tri_cnt,
       CASE WHEN dg.deg_cnt >= 2 THEN
         FLOOR((CAST(2 * COALESCE(tc.tri_cnt, 0) AS DOUBLE)
                / CAST(dg.deg_cnt * (dg.deg_cnt - 1) AS DOUBLE))
               * 10000.0 + 0.5) / 10000.0
       ELSE 0.0 END AS clust4,
       FLOOR(pg.r * 10000.0 + 0.5) / 10000.0 AS pr4,
       CAST(CASE WHEN k2f.a IS NOT NULL THEN 1 ELSE 0 END AS INTEGER)
         AS core2,
       CAST(CASE WHEN k3f.a IS NOT NULL THEN 1 ELSE 0 END AS INTEGER)
         AS core3,
       CAST(COALESCE(k2d.d, 0) AS BIGINT) AS core2_deg,
       dn.cl_edges, dn.cl_possible, dn.cl_missing, dn.cl_density4
FROM comp c JOIN sizes s USING (rep) JOIN best b USING (rep)
JOIN deg dg USING (doc_id)
LEFT JOIN tric tc USING (doc_id)
JOIN prf pg ON pg.v = c.doc_id
LEFT JOIN s2_4 k2f ON k2f.a = c.doc_id
LEFT JOIN s3_4 k3f ON k3f.a = c.doc_id
LEFT JOIN k2deg k2d ON k2d.a = c.doc_id
JOIN cdn dn ON dn.rep = c.rep
"""


def sql_kcore(rounds: int = 4, ks=(2, 3)) -> str:
    """Unrolled bounded-round k-core peel CTEs over `pedges` (the
    symmetric deduped edge list already defined by sql_dedup_clusters).
    One CTE per peel round — the exact replay of operators/dedup.py
    kcore_peel's R-round recursion (deterministic whether or not the
    peel reached fixpoint). Emits CTE text (no leading WITH, no leading
    comma); final survivor sets are s{k}_{rounds}, plus k{ks[0]}deg =
    degree inside the ks[0] surviving subgraph."""
    parts = ["kall AS (SELECT src AS a FROM pedges GROUP BY src)"]
    for k in ks:
        prev = "kall"
        for r in range(1, rounds + 1):
            name = f"s{k}_{r}"
            parts.append(
                f"""{name} AS (
  SELECT e.src AS a FROM pedges e
  JOIN {prev} x ON x.a = e.src JOIN {prev} y ON y.a = e.dst
  GROUP BY e.src HAVING count(*) >= {k}
)"""
            )
            prev = name
    k0 = ks[0]
    parts.append(
        f"""k{k0}deg AS (
  SELECT e.src AS a, CAST(count(*) AS BIGINT) AS d FROM pedges e
  JOIN s{k0}_{rounds} x ON x.a = e.src
  JOIN s{k0}_{rounds} y ON y.a = e.dst
  GROUP BY e.src
)"""
    )
    return ",\n".join(parts)


def _hash_params(i: int) -> tuple[int, int]:
    a = (1103515245 * (i + 1) + 12345) % P31 | 1
    b = (MIX * (i + 7)) % P31
    return a, b


def sql_shingles(source: str = "aug") -> str:
    return f"""
shingled AS (
  SELECT doc_id,
         list_distinct(list_transform(range(0, n_tok - {K_SHINGLE - 1}),
           i -> (CAST(tokens[i+1] AS BIGINT) * 961
               + CAST(tokens[i+2] AS BIGINT) * 31
               + CAST(tokens[i+3] AS BIGINT)) % {P31})) AS sh
  FROM {source} WHERE n_tok >= {K_SHINGLE}
)
""".strip()


SQL_SHINGLES = sql_shingles()


def sql_minhash_pairs(jaccard_threshold: float = 0.5, with_lev: bool = False,
                      with_sig: bool = False, with_audit: bool = False,
                      with_cont: bool = False, with_winnow: bool = False,
                      with_jbins: bool = False,
                      with_srcmat: bool = False) -> str:
    if with_srcmat and not with_audit:
        # the srcmat CTEs are emitted inside the audit tail (they read the
        # `res` CTE that only exists there); a silent no-op would hand the
        # caller a result with no src columns (ADVICE r4)
        raise ValueError("with_srcmat=True requires with_audit=True")
    sig_terms = []
    for i in range(NUM_HASHES):
        a, b = _hash_params(i)
        sig_terms.append(f"list_min(list_transform(sh, x -> (x * {a} + {b}) % {P31}))")
    band_rows = []
    for band in range(NUM_BANDS):
        parts = [
            f"sig[{band * ROWS_PER_BAND + r + 1}] * {31 ** r}" for r in range(ROWS_PER_BAND)
        ]
        band_rows.append(
            f"SELECT doc_id, sh, {band} AS band_idx, ({' + '.join(parts)}) % {P31} AS band_key FROM sigs"
        )
    # optional Levenshtein verification columns in the WIDE encoding (two
    # ASCII chars per token — chr(65 + t//16), chr(97 + t%16)): all-ASCII
    # strings make DuckDB's byte-based levenshtein identical to Spark's
    # char-based one; d is the fixed-width-encoding metric (d_tok <= d <=
    # 2*d_tok), normalized by 2*max(len)
    lv_cte, lv_cols, lv_join = "", "", ""
    if with_lev:
        lv_cte = """,
lv AS (
  SELECT doc_id,
         list_aggregate(list_transform(tokens,
           t -> chr(65 + t // 16) || chr(97 + t % 16)), 'string_agg', '') AS s,
         CAST(len(tokens) AS BIGINT) AS ln
  FROM aug
)"""
        lv_cols = """,
       la.ln AS len_a, lb.ln AS len_b,
       CAST(levenshtein(la.s, lb.s) AS BIGINT) AS lev_dist,
       CASE WHEN GREATEST(la.ln, lb.ln) > 0 THEN
         FLOOR((1.0 - CAST(levenshtein(la.s, lb.s) AS DOUBLE)
                      / CAST(GREATEST(la.ln, lb.ln) * 2 AS DOUBLE))
               * 10000.0 + 0.5) / 10000.0
       ELSE 1.0 END AS lev_sim4"""
        lv_join = " JOIN lv la ON la.doc_id = id_a JOIN lv lb ON lb.doc_id = id_b"
    # asymmetric n-gram containment (decontamination measure): exact set
    # sizes as BIGINTs + one fround4 division per side (empty shingle set →
    # 0.0, matching the Spark coalesce)
    ct_cols = ""
    if with_cont:
        ct_cols = """,
       CAST(len(sh_a) AS BIGINT) AS n_sh_a,
       CAST(len(sh_b) AS BIGINT) AS n_sh_b,
       CAST(len(list_intersect(sh_a, sh_b)) AS BIGINT) AS n_inter,
       CASE WHEN len(sh_a) > 0 THEN
         FLOOR(CAST(len(list_intersect(sh_a, sh_b)) AS DOUBLE)
               / CAST(len(sh_a) AS DOUBLE) * 10000.0 + 0.5) / 10000.0
       ELSE 0.0 END AS cont_a4,
       CASE WHEN len(sh_b) > 0 THEN
         FLOOR(CAST(len(list_intersect(sh_a, sh_b)) AS DOUBLE)
               / CAST(len(sh_b) AS DOUBLE) * 10000.0 + 0.5) / 10000.0
       ELSE 0.0 END AS cont_b4"""
    # winnowing fingerprints (Schleimer/Wilkerson/Aiken 2003, MOSS): k-gram
    # rolling hashes, per-window minimum with RIGHTMOST tie-break (the
    # list_reduce over window offsets replays the Spark fold exactly —
    # init offset 0 is equivalent to Spark's -1 because the window minimum
    # always occurs at some offset), distinct (pos,hash) encodings, hash-set
    # intersection + one fround4 division
    wn_cte, wn_cols, wn_join = "", "", ""
    if with_winnow:
        wn_cte = """,
wnh AS (
  SELECT doc_id,
    CASE WHEN n_tok >= 4 THEN
      list_transform(range(0, n_tok - 3),
        i -> list_reduce(list_transform(tokens[i+1:i+4], t -> CAST(t AS BIGINT)),
                         (a, t) -> (a * 1000003 + t) % 2147483647))
    ELSE [] END AS hs
  FROM aug
),
wnf AS (
  SELECT doc_id,
    CASE WHEN len(hs) >= 4 THEN
      list_distinct(list_transform(range(0, len(hs) - 3),
        s -> CAST(s + list_reduce(range(0, 4),
               (acc, j) -> CASE WHEN hs[s + j + 1] = list_min(hs[s+1:s+4])
                           THEN j ELSE acc END) AS BIGINT) * 2147483648
             + list_min(hs[s+1:s+4])))
    ELSE [] END AS fps
  FROM wnh
),
wns AS (
  SELECT doc_id, fps,
         list_distinct(list_transform(fps, e -> e % 2147483648)) AS hset
  FROM wnf
)"""
        wn_cols = """,
       CAST(len(wa.fps) AS BIGINT) AS wn_fp_a,
       CAST(len(wb.fps) AS BIGINT) AS wn_fp_b,
       CAST(len(wa.hset) AS BIGINT) AS wn_a,
       CAST(len(wb.hset) AS BIGINT) AS wn_b,
       CAST(len(list_intersect(wa.hset, wb.hset)) AS BIGINT) AS wn_common,
       CASE WHEN LEAST(len(wa.hset), len(wb.hset)) > 0 THEN
         FLOOR(CAST(len(list_intersect(wa.hset, wb.hset)) AS DOUBLE)
               / CAST(LEAST(len(wa.hset), len(wb.hset)) AS DOUBLE)
               * 10000.0 + 0.5) / 10000.0
       ELSE 0.0 END AS wn_sim4"""
        wn_join = " JOIN wns wa ON wa.doc_id = id_a JOIN wns wb ON wb.doc_id = id_b"
    # signature-agreement Jaccard estimate (fraction of agreeing slots)
    sg_cols, sg_join = "", ""
    if with_sig:
        sg_cols = f""",
       CAST(list_sum(list_transform(range(1, {NUM_HASHES + 1}),
              i -> CASE WHEN sa.sig[i] = sb.sig[i] THEN 1 ELSE 0 END))
            AS BIGINT) AS sig_match,
       FLOOR(CAST(list_sum(list_transform(range(1, {NUM_HASHES + 1}),
               i -> CASE WHEN sa.sig[i] = sb.sig[i] THEN 1 ELSE 0 END))
             AS DOUBLE) / {NUM_HASHES}.0 * 10000.0 + 0.5) / 10000.0 AS est4,
       CAST(list_sum(list_transform(range(1, {NUM_HASHES + 1}),
              i -> CASE WHEN (sa.sig[i] & 3) = (sb.sig[i] & 3) THEN 1 ELSE 0 END))
            AS BIGINT) AS bbit_match,
       -- b-bit (b=2) estimator (A − 1/4)/(3/4): the low-bit collision floor
       -- subtracted, exact ints + one division (may be negative)
       FLOOR(((CAST(list_sum(list_transform(range(1, {NUM_HASHES + 1}),
               i -> CASE WHEN (sa.sig[i] & 3) = (sb.sig[i] & 3) THEN 1 ELSE 0 END))
             AS DOUBLE) - {NUM_HASHES / 4.0}) / {NUM_HASHES * 3 / 4.0})
             * 10000.0 + 0.5) / 10000.0 AS bbit_est4"""
        sg_join = " JOIN sigs sa ON sa.doc_id = id_a JOIN sigs sb ON sb.doc_id = id_b"
    res_sql = f"""SELECT id_a, id_b,
       FLOOR((CAST(len(list_intersect(sh_a, sh_b)) AS DOUBLE)
             / (len(sh_a) + len(sh_b) - len(list_intersect(sh_a, sh_b)))) * 10000.0 + 0.5) / 10000.0 AS jaccard{lv_cols}{ct_cols}{sg_cols}{wn_cols}
FROM cand{lv_join}{sg_join}{wn_join}
WHERE CAST(len(list_intersect(sh_a, sh_b)) AS DOUBLE)
      / (len(sh_a) + len(sh_b) - len(list_intersect(sh_a, sh_b))) >= {jaccard_threshold}"""
    head = f"""
WITH {SQL_AUG},
{SQL_SHINGLES},
sigs AS (SELECT doc_id, sh, [{', '.join(sig_terms)}] AS sig FROM shingled),
banded AS ({' UNION ALL '.join(band_rows)}),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, a.sh AS sh_a, b.sh AS sh_b
  FROM banded a JOIN banded b USING (band_idx, band_key)
  WHERE a.doc_id < b.doc_id
){lv_cte}{wn_cte}"""
    if with_jbins:
        # dedup THRESHOLD-SENSITIVITY curve: decile bins of the gated
        # jaccard (identical double on both engines → identical bin),
        # per-bin pair count + victim-token mass (the smaller doc — what
        # a dedup pass at that cut would delete). Requires with_lev lens.
        res_sql = f"""SELECT q.*,
       LEAST(CAST(FLOOR(q.jaccard * 10) AS BIGINT), 9) AS jb_bin,
       jc.jb_pairs, jc.jb_victims
FROM ({res_sql}) q JOIN (
  SELECT LEAST(CAST(FLOOR(jaccard * 10) AS BIGINT), 9) AS jb_bin,
         CAST(COUNT(*) AS BIGINT) AS jb_pairs,
         CAST(SUM(LEAST(len_a, len_b)) AS BIGINT) AS jb_victims
  FROM ({res_sql}) GROUP BY 1) jc
  ON jc.jb_bin = LEAST(CAST(FLOOR(q.jaccard * 10) AS BIGINT), 9)"""
    if not with_audit:
        return f"{head}\n{res_sql}\n"
    # cross-SOURCE near-dup matrix (wave 115): each pair's normalized
    # (src_a <= src_b) source cell plus the corpus-wide cell count — the
    # domain-contamination heatmap
    src_ctes, src_cols, src_join = "", "", ""
    if with_srcmat:
        src_ctes = """,
srcm AS (
  SELECT r.id_a, r.id_b,
         LEAST(sa.source, sb.source) AS src_a,
         GREATEST(sa.source, sb.source) AS src_b
  FROM res r JOIN aug sa ON sa.doc_id = r.id_a
             JOIN aug sb ON sb.doc_id = r.id_b
),
srcc AS (
  SELECT src_a, src_b, CAST(COUNT(*) AS BIGINT) AS src_pairs
  FROM srcm GROUP BY src_a, src_b
)"""
        src_cols = ",\n       sm.src_a, sm.src_b, sc2.src_pairs"
        src_join = (
            " JOIN srcm sm ON sm.id_a = res.id_a AND sm.id_b = res.id_b"
            " JOIN srcc sc2 ON sc2.src_a = sm.src_a"
            " AND sc2.src_b = sm.src_b"
        )
    # blocking-recall audit: brute-force truth on the deterministic
    # id-suffix sample, fraction surfaced by the LSH result itself
    return f"""{head},
res AS ({res_sql}),
sampsh AS (
  SELECT doc_id, sh FROM shingled
  WHERE TRY_CAST(regexp_extract(doc_id, '([0-9]+)$', 1) AS BIGINT) % 7 = 0
),
truth AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM sampsh a, sampsh b
  WHERE a.doc_id < b.doc_id
    AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))
        >= {jaccard_threshold}
),
audit AS (
  SELECT CAST((SELECT COUNT(*) FROM truth) AS BIGINT) AS sample_true_pairs,
         CAST((SELECT COUNT(*) FROM truth t
               JOIN res USING (id_a, id_b)) AS BIGINT) AS lsh_found_pairs
){src_ctes}
SELECT res.*, audit.sample_true_pairs, audit.lsh_found_pairs,
       CASE WHEN audit.sample_true_pairs > 0 THEN
         FLOOR((CAST(audit.lsh_found_pairs AS DOUBLE)
                / audit.sample_true_pairs) * 10000.0 + 0.5) / 10000.0
       ELSE 1.0 END AS lsh_recall4,
       -- (4,4)-banding S-curve 1 - (1 - s^4)^4, explicit multiply chains
       FLOOR((1.0 - (((1.0 - (((CAST(res.sig_match AS DOUBLE) / 16.0) * (CAST(res.sig_match AS DOUBLE) / 16.0)) * ((CAST(res.sig_match AS DOUBLE) / 16.0) * (CAST(res.sig_match AS DOUBLE) / 16.0)))) * (1.0 - (((CAST(res.sig_match AS DOUBLE) / 16.0) * (CAST(res.sig_match AS DOUBLE) / 16.0)) * ((CAST(res.sig_match AS DOUBLE) / 16.0) * (CAST(res.sig_match AS DOUBLE) / 16.0))))) * ((1.0 - (((CAST(res.sig_match AS DOUBLE) / 16.0) * (CAST(res.sig_match AS DOUBLE) / 16.0)) * ((CAST(res.sig_match AS DOUBLE) / 16.0) * (CAST(res.sig_match AS DOUBLE) / 16.0)))) * (1.0 - (((CAST(res.sig_match AS DOUBLE) / 16.0) * (CAST(res.sig_match AS DOUBLE) / 16.0)) * ((CAST(res.sig_match AS DOUBLE) / 16.0) * (CAST(res.sig_match AS DOUBLE) / 16.0))))))) * 10000.0 + 0.5) / 10000.0 AS scurve4{src_cols}
FROM res CROSS JOIN audit{src_join}
"""


def sql_simhash_pairs(max_hamming: int = 3, num_bands: int = 4) -> str:
    """Band-OR blocked SimHash oracle: one band per 32/num_bands-bit slice,
    union of per-band bucket matches, distinct pairs, hamming verify."""
    bit_terms = [
        f"(CASE WHEN list_sum(list_transform(sh, x -> ((((x * {MIX}) % 4294967296) >> {j}) % 2) * 2 - 1)) > 0 "
        f"THEN CAST({2 ** j} AS BIGINT) ELSE 0 END)"
        for j in range(32)
    ]
    width = 32 // num_bands
    band_rows = " UNION ALL ".join(
        f"SELECT doc_id, fp, {b} AS band_idx, (fp >> {width * b}) % {1 << width} AS band_key FROM fps"
        for b in range(num_bands)
    )
    return f"""
WITH {SQL_AUG},
{SQL_SHINGLES},
fps AS (SELECT doc_id, {' + '.join(bit_terms)} AS fp FROM shingled),
banded AS ({band_rows}),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, a.fp AS fp_a, b.fp AS fp_b
  FROM banded a JOIN banded b USING (band_idx, band_key)
  WHERE a.doc_id < b.doc_id
)
SELECT id_a, id_b,
       CAST(bit_count(xor(fp_a, fp_b)) AS BIGINT) AS hamming
FROM cand
WHERE bit_count(xor(fp_a, fp_b)) <= {max_hamming}
"""


SQL_EXACT_DEDUP_INC = f"""
WITH {{SQL_AUG}},
keyed AS (
  SELECT doc_id, source,
         CAST(substr(doc_id, length(doc_id), 1) AS INTEGER) % 2 AS is_new,
         list_aggregate(list_transform(tokens, x -> CAST(x AS VARCHAR)), 'string_agg', ',') AS key
  FROM aug
),
ranked AS (
  SELECT doc_id, source, key, is_new,
         row_number() OVER (PARTITION BY key ORDER BY doc_id) AS rn
  FROM keyed
),
seen AS (SELECT DISTINCT key FROM keyed WHERE is_new = 0),
fresh AS (  -- new batch anti-joined against the old batch's key index
  SELECT k.doc_id, k.key FROM keyed k LEFT JOIN seen s USING (key)
  WHERE k.is_new = 1 AND s.key IS NULL
),
inc AS (  -- intra-batch first occurrence among the survivors
  SELECT doc_id FROM (
    SELECT doc_id, row_number() OVER (PARTITION BY key ORDER BY doc_id) AS rn
    FROM fresh
  ) WHERE rn = 1
),
sbatch AS (  -- streaming-dedup expectation: the EARLIEST batch holding the
             -- key; the stream must emit its one survivor from there
  SELECT key, CAST(MIN(is_new) AS BIGINT) AS stream_batch FROM keyed GROUP BY key
),
snmo AS (  -- sorted-neighborhood: lexicographic token sort, ties -> id
  SELECT doc_id, tokens,
         lag(doc_id) OVER (ORDER BY tokens, doc_id) AS pid,
         lag(tokens) OVER (ORDER BY tokens, doc_id) AS ptok
  FROM aug
),
snm AS (  -- LCP = first elementwise mismatch - 1, else min(len); exact ints
  SELECT doc_id,
         COALESCE(pid, '') AS snm_prev,
         CASE WHEN ptok IS NULL THEN CAST(-1 AS BIGINT)
              ELSE CAST(COALESCE(
                (SELECT MIN(u.i) FROM
                   (SELECT unnest(range(1, least(len(tokens), len(ptok)) + 1)) AS i) u
                 WHERE tokens[CAST(u.i AS INTEGER)] <> ptok[CAST(u.i AS INTEGER)]) - 1,
                least(len(tokens), len(ptok))) AS BIGINT) END AS snm_lcp,
         CAST(ptok IS NOT NULL AND COALESCE(
                (SELECT MIN(u.i) FROM
                   (SELECT unnest(range(1, least(len(tokens), len(ptok)) + 1)) AS i) u
                 WHERE tokens[CAST(u.i AS INTEGER)] <> ptok[CAST(u.i AS INTEGER)]) - 1,
                least(len(tokens), len(ptok)))
              = least(len(tokens), len(ptok)) AS BIGINT) AS snm_pfx
  FROM snmo
)
SELECT r.doc_id, r.source,
       CAST(CASE WHEN r.is_new = 0 THEN -1
                 WHEN i.doc_id IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS inc_kept,
       sb.stream_batch,
       CAST(1 AS BIGINT) AS stream_cnt,
       sn.snm_prev, sn.snm_lcp, sn.snm_pfx
FROM ranked r LEFT JOIN inc i USING (doc_id)
JOIN sbatch sb USING (key)
JOIN snm sn USING (doc_id)
WHERE r.rn = 1
""".replace("{SQL_AUG}", SQL_AUG)

SQL_EXACT_DEDUP = f"""
WITH {SQL_AUG},
keyed AS (
  SELECT doc_id, source,
         list_aggregate(list_transform(tokens, x -> CAST(x AS VARCHAR)), 'string_agg', ',') AS key
  FROM aug
),
ranked AS (
  SELECT doc_id, source, row_number() OVER (PARTITION BY key ORDER BY doc_id) AS rn
  FROM keyed
)
SELECT doc_id, source FROM ranked WHERE rn = 1
"""

def sql_srp_sig(vec: str = "embedding", n_planes: int = 16, quant: int = 1000) -> str:
    """DuckDB replay of dedup.srp_signature: quantize to integers, dot with
    the deterministic plane weights, pack the sign bits."""
    terms = []
    for p in range(n_planes):
        dot = (
            f"list_sum(list_transform(range(1, len({vec}) + 1), "
            f"d -> CAST(FLOOR(CAST({vec}[d] AS DOUBLE) * {quant}.0 + 0.5) AS BIGINT)"
            f" * ((d * {MIX} * {p + 13}) % 2001 - 1000)))"
        )
        terms.append(
            f"(CASE WHEN {dot} > 0 THEN CAST({1 << p} AS BIGINT)"
            f" ELSE CAST(0 AS BIGINT) END)"
        )
    return "(" + " + ".join(terms) + ")"


SQL_TOPK_COSINE = f"""
WITH {SQL_TOKENS_STATIC},
q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
cosr AS (
  SELECT vec_id,
         FLOOR((list_inner_product(CAST(embedding AS DOUBLE[]), CAST(q.qv AS DOUBLE[]))
               / (sqrt(list_inner_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])))
                * sqrt(list_inner_product(CAST(q.qv AS DOUBLE[]), CAST(q.qv AS DOUBLE[]))))) * 10000.0 + 0.5) / 10000.0 AS cos,
         CAST(row_number() OVER (ORDER BY
           FLOOR((list_inner_product(CAST(embedding AS DOUBLE[]), CAST(q.qv AS DOUBLE[]))
                 / (sqrt(list_inner_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])))
                  * sqrt(list_inner_product(CAST(q.qv AS DOUBLE[]), CAST(q.qv AS DOUBLE[]))))) * 10000.0 + 0.5) / 10000.0 DESC,
           vec_id ASC) AS BIGINT) AS rank
  FROM embeddings, q
),
sigs AS (SELECT vec_id, {{SIG}} AS sig FROM embeddings),
qsig AS (SELECT sig AS qs FROM sigs WHERE vec_id = 0),
hamr AS (
  SELECT vec_id AS ham_vec_id,
         CAST(bit_count(xor(sig, (SELECT qs FROM qsig))) AS BIGINT) AS hamming,
         CAST(row_number() OVER (ORDER BY
           bit_count(xor(sig, (SELECT qs FROM qsig))) ASC, vec_id ASC)
           AS BIGINT) AS rank
  FROM sigs
),
btoks AS (SELECT CAST(substr(doc_id, 5) AS BIGINT) AS did, tokens, n_tok
          FROM tokens_static),
bmtf AS (  -- BM25 replay (same rational-idf chain as text_stats)
  SELECT did, CAST(n_tok AS BIGINT) AS dl, t, CAST(COUNT(*) AS BIGINT) AS tf
  FROM (SELECT did, n_tok, unnest(tokens) AS t FROM btoks)
  WHERE t IN (18, 55, 89, 138, 216)
  GROUP BY did, n_tok, t
),
bmdf AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS df FROM bmtf GROUP BY t),
bmtot AS (SELECT CAST(COUNT(*) AS BIGINT) AS b_n, CAST(SUM(n_tok) AS BIGINT) AS b_s
          FROM btoks),
bmterm AS (
  SELECT did, t,
         CAST((2*b_n - 2*df + 1) * 44 * tf * b_s AS DOUBLE)
         / CAST((2*df + 1) * (20*tf*b_s + 6*b_s + 18*dl*b_n) AS DOUBLE) AS v
  FROM bmtf JOIN bmdf USING (t) CROSS JOIN bmtot
),
bmsc AS (
  SELECT did, FLOOR(list_reduce(list(v ORDER BY t), (a, b) -> a + b)
              * 10000.0 + 0.5) / 10000.0 AS s4
  FROM bmterm GROUP BY did
),
br10 AS (
  SELECT did AS bid, brank FROM (
    SELECT did, CAST(row_number() OVER (ORDER BY s4 DESC, did ASC) AS BIGINT)
           AS brank
    FROM bmsc) WHERE brank <= 10
),
cr10 AS (SELECT vec_id AS cid, rank AS crank FROM cosr WHERE rank <= 10),
fused AS (  -- RRF: 1/(60+r) per present list, absent contributes 0
  SELECT COALESCE(cid, bid) AS rrf_vec_id, crank, brank,
         FLOOR((COALESCE(CAST(1 AS DOUBLE) / (60 + crank), 0)
              + COALESCE(CAST(1 AS DOUBLE) / (60 + brank), 0))
               * 10000.0 + 0.5) / 10000.0 AS rrf4,
         CAST(crank IS NOT NULL AND brank IS NOT NULL AS BIGINT) AS rrf_in_both
  FROM cr10 FULL OUTER JOIN br10 ON cid = bid
),
fr AS (
  SELECT rrf_vec_id, rrf4, rrf_in_both,
         CAST(row_number() OVER (ORDER BY rrf4 DESC, rrf_vec_id ASC) AS BIGINT)
           AS rank
  FROM fused
),
rboov AS (  -- per-depth overlaps of the two top-10 lists, exact ints
  SELECT
         CAST(SUM(CASE WHEN crank <= 1 AND brank <= 1 THEN 1 ELSE 0 END) AS BIGINT) AS ov1,
         CAST(SUM(CASE WHEN crank <= 2 AND brank <= 2 THEN 1 ELSE 0 END) AS BIGINT) AS ov2,
         CAST(SUM(CASE WHEN crank <= 3 AND brank <= 3 THEN 1 ELSE 0 END) AS BIGINT) AS ov3,
         CAST(SUM(CASE WHEN crank <= 4 AND brank <= 4 THEN 1 ELSE 0 END) AS BIGINT) AS ov4,
         CAST(SUM(CASE WHEN crank <= 5 AND brank <= 5 THEN 1 ELSE 0 END) AS BIGINT) AS ov5,
         CAST(SUM(CASE WHEN crank <= 6 AND brank <= 6 THEN 1 ELSE 0 END) AS BIGINT) AS ov6,
         CAST(SUM(CASE WHEN crank <= 7 AND brank <= 7 THEN 1 ELSE 0 END) AS BIGINT) AS ov7,
         CAST(SUM(CASE WHEN crank <= 8 AND brank <= 8 THEN 1 ELSE 0 END) AS BIGINT) AS ov8,
         CAST(SUM(CASE WHEN crank <= 9 AND brank <= 9 THEN 1 ELSE 0 END) AS BIGINT) AS ov9,
         CAST(SUM(CASE WHEN crank <= 10 AND brank <= 10 THEN 1 ELSE 0 END) AS BIGINT) AS ov10
  FROM fused
),
rbo AS (  -- truncated RBO at p = 1/2: fixed 10-term dyadic chain
  SELECT FLOOR((
           CAST(ov1 AS DOUBLE) / CAST(1 AS DOUBLE) * CAST(0.5 AS DOUBLE)
         + CAST(ov2 AS DOUBLE) / CAST(2 AS DOUBLE) * CAST(0.25 AS DOUBLE)
         + CAST(ov3 AS DOUBLE) / CAST(3 AS DOUBLE) * CAST(0.125 AS DOUBLE)
         + CAST(ov4 AS DOUBLE) / CAST(4 AS DOUBLE) * CAST(0.0625 AS DOUBLE)
         + CAST(ov5 AS DOUBLE) / CAST(5 AS DOUBLE) * CAST(0.03125 AS DOUBLE)
         + CAST(ov6 AS DOUBLE) / CAST(6 AS DOUBLE) * CAST(0.015625 AS DOUBLE)
         + CAST(ov7 AS DOUBLE) / CAST(7 AS DOUBLE) * CAST(0.0078125 AS DOUBLE)
         + CAST(ov8 AS DOUBLE) / CAST(8 AS DOUBLE) * CAST(0.00390625 AS DOUBLE)
         + CAST(ov9 AS DOUBLE) / CAST(9 AS DOUBLE) * CAST(0.001953125 AS DOUBLE)
         + CAST(ov10 AS DOUBLE) / CAST(10 AS DOUBLE) * CAST(0.0009765625 AS DOUBLE)
         ) * 10000.0 + 0.5) / 10000.0 AS rbo4
  FROM rboov
),
mc AS (  -- MMR candidates: cosine top-8 with vectors + 4-dec relevance
  SELECT c.rank, c.vec_id, CAST(e.embedding AS DOUBLE[]) AS ev, c.cos AS rel
  FROM cosr c JOIN embeddings e USING (vec_id) WHERE c.rank <= 8
),
msim AS (  -- pairwise 4-dec cosines over the bounded candidate set
  SELECT a.vec_id AS ia, b.vec_id AS ib,
         FLOOR((list_inner_product(a.ev, b.ev)
               / (sqrt(list_inner_product(a.ev, a.ev))
                * sqrt(list_inner_product(b.ev, b.ev)))) * 10000.0 + 0.5)
         / 10000.0 AS s
  FROM mc a JOIN mc b ON a.vec_id <> b.vec_id
),
p1 AS (  -- step 1: no penalty (maxsim = 0)
  SELECT vec_id, FLOOR((CAST(0.7 AS DOUBLE) * rel) * 10000.0 + 0.5)
                 / 10000.0 AS sc
  FROM mc ORDER BY 2 DESC, vec_id ASC LIMIT 1
),
p2 AS (
  SELECT c.vec_id,
         FLOOR((CAST(0.7 AS DOUBLE) * c.rel - CAST(0.3 AS DOUBLE) * m.ms)
               * 10000.0 + 0.5) / 10000.0 AS sc
  FROM mc c JOIN (SELECT ia, MAX(s) AS ms FROM msim
                  WHERE ib IN (SELECT vec_id FROM p1) GROUP BY ia) m
    ON m.ia = c.vec_id
  WHERE c.vec_id NOT IN (SELECT vec_id FROM p1)
  ORDER BY 2 DESC, c.vec_id ASC LIMIT 1
),
p3 AS (
  SELECT c.vec_id,
         FLOOR((CAST(0.7 AS DOUBLE) * c.rel - CAST(0.3 AS DOUBLE) * m.ms)
               * 10000.0 + 0.5) / 10000.0 AS sc
  FROM mc c JOIN (SELECT ia, MAX(s) AS ms FROM msim
                  WHERE ib IN (SELECT vec_id FROM p1
                               UNION SELECT vec_id FROM p2) GROUP BY ia) m
    ON m.ia = c.vec_id
  WHERE c.vec_id NOT IN (SELECT vec_id FROM p1 UNION SELECT vec_id FROM p2)
  ORDER BY 2 DESC, c.vec_id ASC LIMIT 1
),
p4 AS (
  SELECT c.vec_id,
         FLOOR((CAST(0.7 AS DOUBLE) * c.rel - CAST(0.3 AS DOUBLE) * m.ms)
               * 10000.0 + 0.5) / 10000.0 AS sc
  FROM mc c JOIN (SELECT ia, MAX(s) AS ms FROM msim
                  WHERE ib IN (SELECT vec_id FROM p1
                               UNION SELECT vec_id FROM p2
                               UNION SELECT vec_id FROM p3) GROUP BY ia) m
    ON m.ia = c.vec_id
  WHERE c.vec_id NOT IN (SELECT vec_id FROM p1 UNION SELECT vec_id FROM p2
                         UNION SELECT vec_id FROM p3)
  ORDER BY 2 DESC, c.vec_id ASC LIMIT 1
),
mmr AS (
  SELECT CAST(1 AS BIGINT) AS rank, CAST(vec_id AS BIGINT) AS mmr_vec_id,
         sc AS mmr_score4 FROM p1
  UNION ALL SELECT 2, vec_id, sc FROM p2
  UNION ALL SELECT 3, vec_id, sc FROM p3
  UNION ALL SELECT 4, vec_id, sc FROM p4
)
SELECT c.rank, c.vec_id, c.cos, h.ham_vec_id, h.hamming,
       f.rrf_vec_id, f.rrf4, f.rrf_in_both, r.rbo4,
       COALESCE(m.mmr_vec_id, -1) AS mmr_vec_id,
       COALESCE(m.mmr_score4, -2.0) AS mmr_score4
FROM cosr c JOIN hamr h USING (rank) JOIN fr f USING (rank)
LEFT JOIN mmr m USING (rank)
CROSS JOIN rbo r
WHERE c.rank <= 10
""".replace("{SIG}", sql_srp_sig())


SQL_IVF_TOPK = """
WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
cents AS (
  SELECT vec_id AS cent_id, CAST(embedding AS DOUBLE[]) AS cv
  FROM embeddings WHERE vec_id < 8
),
top_cents AS (
  SELECT cent_id
  FROM cents, q
  ORDER BY FLOOR((list_inner_product(cv, q.qv)
                 / (sqrt(list_inner_product(cv, cv)) * sqrt(list_inner_product(q.qv, q.qv))))
                 * 10000.0 + 0.5) / 10000.0 DESC,
           cent_id ASC
  LIMIT 2
),
assigned AS (
  SELECT e.vec_id, CAST(e.embedding AS DOUBLE[]) AS ev, c.cent_id,
         row_number() OVER (
           PARTITION BY e.vec_id
           ORDER BY FLOOR((list_inner_product(CAST(e.embedding AS DOUBLE[]), c.cv)
                          / (sqrt(list_inner_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))
                           * sqrt(list_inner_product(c.cv, c.cv))))
                          * 10000.0 + 0.5) / 10000.0 DESC,
                    c.cent_id ASC
         ) AS rn
  FROM embeddings e, cents c
)
SELECT a.vec_id,
       FLOOR((list_inner_product(a.ev, q.qv)
             / (sqrt(list_inner_product(a.ev, a.ev)) * sqrt(list_inner_product(q.qv, q.qv))))
             * 10000.0 + 0.5) / 10000.0 AS cos
FROM assigned a, q
WHERE a.rn = 1 AND a.cent_id IN (SELECT cent_id FROM top_cents)
ORDER BY cos DESC, a.vec_id ASC
LIMIT 10
"""


def sql_ivf_batch(n_queries: int = 3, n_cents: int = 8, n_probe: int = 2,
                  k: int = 5) -> str:
    """Batch IVF oracle: per-query centroid probe (rounded-cosine rank,
    ties to lowest cent_id), assignment rn=1, candidates in probed buckets,
    per-query top-k — replays operators/similarity.py ivf_topk_batch."""
    cos = (
        "FLOOR((list_inner_product({a}, {b})"
        " / (sqrt(list_inner_product({a}, {a})) * sqrt(list_inner_product({b}, {b}))))"
        " * 10000.0 + 0.5) / 10000.0"
    )
    qc = cos.format(a="c.cv", b="q.qv")
    ac = cos.format(a="CAST(e.embedding AS DOUBLE[])", b="c.cv")
    sc = cos.format(a="cand.ev", b="q.qv")
    return f"""
WITH qs AS (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
  FROM embeddings WHERE vec_id < {n_queries}
),
cents AS (
  SELECT vec_id AS cent_id, CAST(embedding AS DOUBLE[]) AS cv
  FROM embeddings WHERE vec_id < {n_cents}
),
probe AS (
  SELECT query_id, cent_id FROM (
    SELECT q.query_id, c.cent_id,
           row_number() OVER (PARTITION BY q.query_id
                              ORDER BY {qc} DESC, c.cent_id ASC) AS rn
    FROM qs q, cents c
  ) WHERE rn <= {n_probe}
),
assigned AS (
  SELECT e.vec_id, CAST(e.embedding AS DOUBLE[]) AS ev, c.cent_id,
         row_number() OVER (PARTITION BY e.vec_id
                            ORDER BY {ac} DESC, c.cent_id ASC) AS rn
  FROM embeddings e, cents c
),
cand AS (
  SELECT p.query_id, a.vec_id, a.ev
  FROM assigned a JOIN probe p ON a.cent_id = p.cent_id
  WHERE a.rn = 1
)
SELECT query_id, vec_id, cos FROM (
  SELECT cand.query_id, cand.vec_id, {sc} AS cos,
         row_number() OVER (PARTITION BY cand.query_id
                            ORDER BY {sc} DESC, cand.vec_id ASC) AS rn2
  FROM cand JOIN qs q ON cand.query_id = q.query_id
) WHERE rn2 <= {k}
"""


def sql_ivf_batch_recall(n_queries: int = 3, n_cents: int = 8, n_probe: int = 2,
                         k: int = 5) -> str:
    """Batch IVF + per-query RECALL@k vs the exact brute-force top-k
    (replays operators/similarity.py recall_at_k: |ivf ∩ brute| / |brute|,
    exact integers, one division)."""
    cos = (
        "FLOOR((list_inner_product({a}, {b})"
        " / (sqrt(list_inner_product({a}, {a})) * sqrt(list_inner_product({b}, {b}))))"
        " * 10000.0 + 0.5) / 10000.0"
    )
    bc = cos.format(a="CAST(e.embedding AS DOUBLE[])", b="q.qv")
    return f"""
WITH ivf AS ({sql_ivf_batch(n_queries, n_cents, n_probe, k)}),
bq AS (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
  FROM embeddings WHERE vec_id < {n_queries}
),
brute AS (
  SELECT query_id, vec_id FROM (
    SELECT q.query_id, e.vec_id,
           row_number() OVER (PARTITION BY q.query_id
                              ORDER BY {bc} DESC, e.vec_id ASC) AS rn
    FROM embeddings e, bq q
  ) WHERE rn <= {k}
),
rec AS (
  SELECT b.query_id,
         CAST(SUM(CASE WHEN i.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
         CAST(COUNT(*) AS BIGINT) AS n_exact
  FROM brute b LEFT JOIN ivf i
    ON b.query_id = i.query_id AND b.vec_id = i.vec_id
  GROUP BY b.query_id
)
SELECT i.query_id, i.vec_id, i.cos, r.n_hits, r.n_exact,
       FLOOR((CAST(r.n_hits AS DOUBLE) / r.n_exact) * 10000.0 + 0.5) / 10000.0 AS recall
FROM ivf i JOIN rec r USING (query_id)
"""


def sql_ivf_batch_adc(n_queries: int = 3, n_cents: int = 8, n_probe: int = 2,
                      k: int = 5, m: int = 4, subdim: int = 16) -> str:
    """Batch IVF + recall + PQ-ADC replay: quantize the corpus from scratch,
    rebuild the 4×16 PQ codebooks from the 8 seed vectors, encode every
    vector (exact int64 subspace argmin, ties to lowest centroid), score the
    query set by asymmetric distance d_ADC = Σ_j ‖q_j − c[code_j]‖², and
    join the per-query ADC top-k to the IVF rows by rank — replays
    operators/similarity.py pq_encode + pq_search_adc."""
    return f"""
WITH base AS ({sql_ivf_batch_recall(n_queries, n_cents, n_probe, k)}),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cos DESC, vec_id ASC) AS rank
  FROM base
),
qz AS (  -- int8 quantization, same IEEE expression tree as the Spark side
  SELECT vec_id,
         CASE WHEN list_max(list_transform(CAST(embedding AS DOUBLE[]), y -> abs(y))) = 0
              THEN list_transform(CAST(embedding AS DOUBLE[]), x -> 0)
              ELSE list_transform(CAST(embedding AS DOUBLE[]),
                     x -> CAST(FLOOR(127.0 * x
                          / list_max(list_transform(CAST(embedding AS DOUBLE[]), y -> abs(y)))
                          + 0.5) AS INTEGER))
         END AS qv
  FROM embeddings
),
pjs AS (SELECT unnest(range(0, {m})) AS sub_id),
pbooks AS (
  SELECT j.sub_id, vec_id AS pcent,
         qv[CAST(j.sub_id * {subdim} + 1 AS BIGINT) : CAST(j.sub_id * {subdim} + {subdim} AS BIGINT)] AS cs
  FROM qz, pjs j WHERE vec_id < {n_cents}
),
psubs AS (
  SELECT vec_id, j.sub_id,
         qv[CAST(j.sub_id * {subdim} + 1 AS BIGINT) : CAST(j.sub_id * {subdim} + {subdim} AS BIGINT)] AS sv
  FROM qz, pjs j
),
pqd AS (
  SELECT s.vec_id, s.sub_id, b.pcent,
         (SELECT CAST(SUM(CAST(s.sv[u.i] - b.cs[u.i] AS BIGINT)
                          * (s.sv[u.i] - b.cs[u.i])) AS BIGINT)
          FROM (SELECT unnest(range(1, {subdim} + 1)) AS i) u) AS d
  FROM psubs s JOIN pbooks b USING (sub_id)
),
pqa AS (  -- per-(vector, subspace) code: argmin, ties to lowest centroid
  SELECT vec_id, sub_id, pcent FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id, sub_id
                                 ORDER BY d ASC, pcent ASC) AS rn
    FROM pqd) WHERE rn = 1
),
qlut AS (  -- query-side LUT: exact subspace distance to every centroid
  SELECT s.vec_id AS query_id, s.sub_id, b.pcent,
         (SELECT CAST(SUM(CAST(s.sv[u.i] - b.cs[u.i] AS BIGINT)
                          * (s.sv[u.i] - b.cs[u.i])) AS BIGINT)
          FROM (SELECT unnest(range(1, {subdim} + 1)) AS i) u) AS d
  FROM psubs s JOIN pbooks b USING (sub_id)
  WHERE s.vec_id < {n_queries}
),
adc AS (  -- ADC score = m lookups summed over the row's codes
  SELECT l.query_id, a.vec_id, CAST(SUM(l.d) AS BIGINT) AS adc_d
  FROM pqa a JOIN qlut l ON a.sub_id = l.sub_id AND a.pcent = l.pcent
  GROUP BY 1, 2
),
adctop AS (
  SELECT query_id, vec_id AS adc_vec_id, adc_d,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY adc_d ASC, vec_id ASC) AS rank
  FROM adc QUALIFY rank <= {k}
),
mb1 AS (  -- brute top-1 per query (same rounded-cos ranking as recall)
  SELECT query_id, vec_id AS top1 FROM (
    SELECT q.vec_id AS query_id, e.vec_id,
           row_number() OVER (PARTITION BY q.vec_id ORDER BY
             FLOOR((list_inner_product(CAST(e.embedding AS DOUBLE[]), q.qv)
                   / (sqrt(list_inner_product(CAST(e.embedding AS DOUBLE[]),
                                              CAST(e.embedding AS DOUBLE[])))
                    * sqrt(list_inner_product(q.qv, q.qv))))
                   * 10000.0 + 0.5) / 10000.0 DESC, e.vec_id ASC) AS rn
    FROM embeddings e,
         (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS qv
          FROM embeddings WHERE vec_id < {n_queries}) q
  ) WHERE rn = 1
),
mrr AS (  -- rank at which the ivf list surfaces the brute top-1; 0 = miss
  SELECT r.query_id,
         CAST(COALESCE(MIN(CASE WHEN r.vec_id = b.top1 THEN r.rank END), 0)
              AS BIGINT) AS mrr_rank
  FROM ranked r JOIN mb1 b USING (query_id) GROUP BY r.query_id
),
mbk AS (  -- brute top-k per query: the AP relevance ground truth
  SELECT query_id, vec_id FROM (
    SELECT q.vec_id AS query_id, e.vec_id,
           row_number() OVER (PARTITION BY q.vec_id ORDER BY
             FLOOR((list_inner_product(CAST(e.embedding AS DOUBLE[]), q.qv)
                   / (sqrt(list_inner_product(CAST(e.embedding AS DOUBLE[]),
                                              CAST(e.embedding AS DOUBLE[])))
                    * sqrt(list_inner_product(q.qv, q.qv))))
                   * 10000.0 + 0.5) / 10000.0 DESC, e.vec_id ASC) AS rn
    FROM embeddings e,
         (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS qv
          FROM embeddings WHERE vec_id < {n_queries}) q
  ) WHERE rn <= {k}
),
apx AS (  -- 60-scaled exact AP numerator: sum rel_k * hits@k * (60 // k)
          -- + 32-scaled RBP (p = 1/2): sum rel_k * 2^(5-k)
  SELECT query_id, CAST(SUM(rel * ch * (60 // rank)) AS BIGINT) AS ap_num60,
         CAST(SUM(rel * (CAST(1 AS BIGINT) << CAST(5 - rank AS INTEGER)))
              AS BIGINT) AS rbp_num32
  FROM (
    SELECT r.query_id, r.rank,
           CASE WHEN b.vec_id IS NOT NULL THEN 1 ELSE 0 END AS rel,
           SUM(CASE WHEN b.vec_id IS NOT NULL THEN 1 ELSE 0 END)
             OVER (PARTITION BY r.query_id ORDER BY r.rank) AS ch
    FROM ranked r LEFT JOIN mbk b
      ON b.query_id = r.query_id AND b.vec_id = r.vec_id
  ) GROUP BY query_id
)
SELECT r.query_id, r.vec_id, r.cos, r.n_hits, r.n_exact, r.recall,
       CAST(r.rank AS BIGINT) AS rank, t.adc_vec_id, t.adc_d, mr.mrr_rank,
       ap.ap_num60,
       FLOOR((ap.ap_num60 / (60 * r.n_exact)) * 10000.0 + 0.5) / 10000.0
         AS ap4,
       ap.rbp_num32,
       FLOOR((ap.rbp_num32 / 32) * 10000.0 + 0.5) / 10000.0 AS rbp4
FROM ranked r JOIN adctop t USING (query_id, rank)
JOIN mrr mr ON mr.query_id = r.query_id
JOIN apx ap ON ap.query_id = r.query_id
"""


def sql_zorder(a: str, b: str, bits: int = 16) -> str:
    """DuckDB replay of functions.zorder_key: the same unrolled bit
    interleave (shifts ≤ 2·bits+1 ≤ 62 — under the 63-bit cross-engine
    shift constraint); + of disjoint bit terms equals the bitwise OR."""
    terms = [
        f"(((({a}) >> {i}) & 1) << {2 * i})"
        f" + (((({b}) >> {i}) & 1) << {2 * i + 1})"
        for i in range(bits)
    ]
    return "(" + " + ".join(terms) + ")"


def sql_hilbert_ctes(src: str, key: str, a: str, b: str,
                     bits: int = 16, out: str = "hilbert") -> str:
    """DuckDB replay of functions.hilbert_key as an UNROLLED per-step CTE
    chain (the PageRank/MMR oracle pattern): one CTE per bit applies the
    same xy2d rotate/flip step with the per-step s precomputed in Python.

    NOT a list_reduce fold on purpose: DuckDB 1.0.0's list_reduce
    mis-vectorizes accumulator-dependent CASE branches ACROSS ROWS (a
    single-row query gives the right answer, the same expression over a
    multi-row table contaminates results between rows — measured), so only
    pure-arithmetic (a, b) -> a + b folds are trusted in oracles.
    Intermediate x/y go NEGATIVE in xy2d (the s−1−x flip at steps where the
    coordinate still holds higher bits) — two's-complement & keeps the
    low-bit tests correct, same as the C original.

    Returns the CTE definitions text; splice after a WITH and SELECT
    ``h32`` joined on ``hk`` from CTE `out`."""
    parts = [
        f"{out}0 AS (SELECT {key} AS hk, CAST({a} AS BIGINT) AS hx, "
        f"CAST({b} AS BIGINT) AS hy, CAST(0 AS BIGINT) AS hd FROM {src})"
    ]
    for k in range(1, bits + 1):
        s = 1 << (bits - k)
        parts.append(
            f"{out}{k} AS (SELECT hk, "
            f"CASE WHEN (hy & {s}) = 0 THEN CASE WHEN (hx & {s}) > 0 "
            f"THEN {s - 1} - hy ELSE hy END ELSE hx END AS hx, "
            f"CASE WHEN (hy & {s}) = 0 THEN CASE WHEN (hx & {s}) > 0 "
            f"THEN {s - 1} - hx ELSE hx END ELSE hy END AS hy, "
            f"hd + {s * s} * CAST(xor("
            f"CASE WHEN (hx & {s}) > 0 THEN 3 ELSE 0 END, "
            f"CASE WHEN (hy & {s}) > 0 THEN 1 ELSE 0 END) AS BIGINT) AS hd "
            f"FROM {out}{k - 1})"
        )
    parts.append(f"{out} AS (SELECT hk, hd AS h32 FROM {out}{bits})")
    return ",\n".join(parts)


def sql_cosine_dup(threshold: float = 0.99, n_planes: int = 16, quant: int = 1000) -> str:
    """Embedding-cosine near-dup oracle: replays the hyperplane-LSH blocking
    with the same integer arithmetic (quantized vectors × deterministic
    integer planes → exact sign bits), then exact cosine ≥ threshold.
    DuckDB lambda indices are 1-based where Spark's transform index is
    0-based, so plane weight w(d) uses d directly here."""
    terms = []
    for p in range(n_planes):
        dot = (
            "list_sum(list_transform(range(1, len(embedding) + 1), "
            f"d -> q[d] * ((d * {MIX} * {p + 13}) % 2001 - 1000)))"
        )
        terms.append(f"(CASE WHEN {dot} > 0 THEN CAST({1 << p} AS BIGINT) ELSE CAST(0 AS BIGINT) END)")
    sig = " + ".join(terms)
    return f"""
WITH aug AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 10000 AS vec_id, embedding FROM embeddings WHERE vec_id % 20 = 0
  UNION ALL
  SELECT vec_id + 20000 AS vec_id,
         list_transform(embedding, (x, i) -> CASE WHEN i = 1
             THEN CAST(CAST(x AS DOUBLE) + 0.01 AS FLOAT) ELSE x END) AS embedding
  FROM embeddings WHERE vec_id % 15 = 0
),
sigs AS (
  SELECT vec_id, embedding,
         list_transform(embedding,
             x -> CAST(FLOOR(CAST(x AS DOUBLE) * {quant}.0 + 0.5) AS BIGINT)) AS q
  FROM aug
),
keyed AS (SELECT vec_id, embedding, {sig} AS sig FROM sigs),
sdq AS (  -- SemDeDup replay: integer-quantize (levels=127, max-abs scale)
  SELECT vec_id,
         CASE WHEN list_max(list_transform(embedding, y -> abs(CAST(y AS DOUBLE)))) = 0
              THEN list_transform(embedding, x -> CAST(0 AS BIGINT))
              ELSE list_transform(embedding,
                   x -> CAST(FLOOR(127.0 * CAST(x AS DOUBLE)
                        / list_max(list_transform(embedding, y -> abs(CAST(y AS DOUBLE))))
                        + 0.5) AS BIGINT)) END AS qv
  FROM aug
),
sdn AS (
  SELECT vec_id, qv,
         CAST(list_sum(list_transform(qv, x -> x * x)) AS BIGINT) AS n2
  FROM sdq
),
sdc AS (SELECT vec_id AS cid, qv AS cv FROM sdq WHERE vec_id < 8),
sdd AS (  -- exact int64 L2 to every seed centroid
  SELECT v.vec_id, c.cid,
         CAST(list_sum(list_transform(range(1, len(v.qv) + 1),
              i -> (v.qv[i] - c.cv[i]) * (v.qv[i] - c.cv[i]))) AS BIGINT) AS d
  FROM sdq v, sdc c
),
sda AS (  -- argmin assignment, ties to the lowest centroid id
  SELECT vec_id, cid AS sd_cluster FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY d ASC, cid ASC) AS rn
    FROM sdd) WHERE rn = 1
),
sdpair AS (  -- within-cluster pairs: cos = dot/(sqrt(na)*sqrt(nb)), exact
             -- integer dot/norms, the same fixed IEEE chain as the kernel
  SELECT pb.vec_id AS hi,
         CAST(list_sum(list_transform(range(1, len(na.qv) + 1),
              i -> na.qv[i] * nb.qv[i])) AS DOUBLE)
         / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))) AS c
  FROM sda pa JOIN sda pb ON pa.sd_cluster = pb.sd_cluster AND pa.vec_id < pb.vec_id
  JOIN sdn na ON na.vec_id = pa.vec_id
  JOIN sdn nb ON nb.vec_id = pb.vec_id
  WHERE na.n2 > 0 AND nb.n2 > 0
),
sddrop AS (  -- keep-lowest-id drop policy, threshold on the UNROUNDED cos
  SELECT hi AS vec_id, MAX(c) AS mc FROM sdpair WHERE c >= 0.98 GROUP BY 1
),
sd AS (
  SELECT a.vec_id, CAST(a.sd_cluster AS BIGINT) AS sd_cluster,
         CAST(d.mc IS NOT NULL AS BIGINT) AS sd_drop,
         COALESCE(FLOOR(d.mc * 10000.0 + 0.5) / 10000.0, -2.0) AS sd_max_cos4
  FROM sda a LEFT JOIN sddrop d USING (vec_id)
),
hnp AS (  -- hard-negative candidates: within-cluster, BOTH directions
  SELECT pa.vec_id AS vid, pb.vec_id AS cand,
         CAST(list_sum(list_transform(range(1, len(na.qv) + 1),
              i -> na.qv[i] * nb.qv[i])) AS DOUBLE)
         / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))) AS c
  FROM sda pa JOIN sda pb
    ON pa.sd_cluster = pb.sd_cluster AND pa.vec_id <> pb.vec_id
  JOIN sdn na ON na.vec_id = pa.vec_id
  JOIN sdn nb ON nb.vec_id = pb.vec_id
  WHERE na.n2 > 0 AND nb.n2 > 0
),
hn AS (  -- best NON-duplicate (cos < threshold, unrounded), ties → low id
  SELECT vid AS vec_id, CAST(cand AS BIGINT) AS hn_id,
         FLOOR(c * 10000.0 + 0.5) / 10000.0 AS hn_cos4
  FROM (SELECT vid, cand, c,
               row_number() OVER (PARTITION BY vid ORDER BY c DESC, cand ASC) AS rn
        FROM hnp WHERE c < 0.98) WHERE rn = 1
),
hnm AS (  -- reciprocal nearest neighbors: mutual top-1 under the blocking
  SELECT x.vec_id, CAST(1 AS BIGINT) AS hn_mutual
  FROM hn x JOIN hn y ON x.hn_id = y.vec_id AND y.hn_id = x.vec_id
),
mpp AS (  -- multi-probe recall: verified pairs at signature hamming 1
  SELECT a.vec_id AS ia, b.vec_id AS ib
  FROM keyed a JOIN keyed b
    ON bit_count(xor(a.sig, b.sig)) = 1 AND a.vec_id < b.vec_id
  WHERE FLOOR((list_inner_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))
              / (sqrt(list_inner_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])))
               * sqrt(list_inner_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])))))
              * 10000.0 + 0.5) / 10000.0 >= {threshold}
),
mpc AS (
  SELECT k, CAST(COUNT(*) AS BIGINT) AS mp_extra
  FROM (SELECT ia AS k FROM mpp UNION ALL SELECT ib AS k FROM mpp) GROUP BY k
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       sa.sd_cluster AS sd_cluster_a, sa.sd_drop AS sd_drop_a,
       sb.sd_cluster AS sd_cluster_b, sb.sd_drop AS sd_drop_b,
       sb.sd_max_cos4 AS sd_maxcos_b4,
       COALESCE(ha.hn_id, -1) AS hn_id_a,
       COALESCE(ha.hn_cos4, -2.0) AS hn_cos4_a,
       COALESCE(hb.hn_id, -1) AS hn_id_b,
       COALESCE(hb.hn_cos4, -2.0) AS hn_cos4_b,
       COALESCE(ma.hn_mutual, 0) AS hn_mut_a,
       COALESCE(mb.hn_mutual, 0) AS hn_mut_b,
       COALESCE(mpa.mp_extra, 0) AS mp_extra_a,
       COALESCE(mpb.mp_extra, 0) AS mp_extra_b,
       CAST(CASE WHEN (((a.vec_id % 2147483647) * 1566083941) % 2147483647) < 429496729 THEN 2 WHEN (((a.vec_id % 2147483647) * 1566083941) % 2147483647) < 858993458 THEN 1 ELSE 0 END AS BIGINT) AS split_a,
       CAST(CASE WHEN (((b.vec_id % 2147483647) * 1566083941) % 2147483647) < 429496729 THEN 2 WHEN (((b.vec_id % 2147483647) * 1566083941) % 2147483647) < 858993458 THEN 1 ELSE 0 END AS BIGINT) AS split_b,
       CAST((CASE WHEN (((a.vec_id % 2147483647) * 1566083941) % 2147483647) < 429496729 THEN 2
                  WHEN (((a.vec_id % 2147483647) * 1566083941) % 2147483647) < 858993458 THEN 1 ELSE 0 END)
            <> (CASE WHEN (((b.vec_id % 2147483647) * 1566083941) % 2147483647) < 429496729 THEN 2
                     WHEN (((b.vec_id % 2147483647) * 1566083941) % 2147483647) < 858993458 THEN 1 ELSE 0 END)
            AS BIGINT) AS xsplit_leak,
       FLOOR((list_inner_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))
             / (sqrt(list_inner_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])))
              * sqrt(list_inner_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])))))
             * 10000.0 + 0.5) / 10000.0 AS cos
FROM keyed a JOIN keyed b ON a.sig = b.sig AND a.vec_id < b.vec_id
JOIN sd sa ON sa.vec_id = a.vec_id
JOIN sd sb ON sb.vec_id = b.vec_id
LEFT JOIN hn ha ON ha.vec_id = a.vec_id
LEFT JOIN hn hb ON hb.vec_id = b.vec_id
LEFT JOIN hnm ma ON ma.vec_id = a.vec_id
LEFT JOIN hnm mb ON mb.vec_id = b.vec_id
LEFT JOIN mpc mpa ON mpa.k = a.vec_id
LEFT JOIN mpc mpb ON mpb.k = b.vec_id
WHERE FLOOR((list_inner_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))
            / (sqrt(list_inner_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])))
             * sqrt(list_inner_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])))))
            * 10000.0 + 0.5) / 10000.0 >= {threshold}
"""


def sql_corpus_clean(jaccard_threshold: float = 0.5) -> str:
    """End-to-end cleaning composition: exact dedup (keep lowest doc_id per
    identical token sequence) → MinHash-LSH near-dup pairs on the SURVIVORS →
    drop the higher id of every qualifying pair. Mirrors the Spark pipeline
    step for step."""
    sig_terms = []
    for i in range(NUM_HASHES):
        a, b = _hash_params(i)
        sig_terms.append(f"list_min(list_transform(sh, x -> (x * {a} + {b}) % {P31}))")
    band_rows = []
    for band in range(NUM_BANDS):
        parts = [
            f"sig[{band * ROWS_PER_BAND + r + 1}] * {31 ** r}" for r in range(ROWS_PER_BAND)
        ]
        band_rows.append(
            f"SELECT doc_id, sh, {band} AS band_idx, ({' + '.join(parts)}) % {P31} AS band_key FROM sigs"
        )
    return f"""
WITH {SQL_AUG},
keyed AS (
  SELECT doc_id, tokens, n_tok, source,
         list_aggregate(list_transform(tokens, x -> CAST(x AS VARCHAR)), 'string_agg', ',') AS key
  FROM aug
),
ranked_exact AS (
  SELECT doc_id, tokens, n_tok, source,
         row_number() OVER (PARTITION BY key ORDER BY doc_id) AS rn
  FROM keyed
),
survivors AS (
  SELECT doc_id, tokens, n_tok, source FROM ranked_exact WHERE rn = 1
),
{sql_shingles("survivors")},
sigs AS (SELECT doc_id, sh, [{', '.join(sig_terms)}] AS sig FROM shingled),
banded AS ({' UNION ALL '.join(band_rows)}),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, a.sh AS sh_a, b.sh AS sh_b
  FROM banded a JOIN banded b USING (band_idx, band_key)
  WHERE a.doc_id < b.doc_id
),
near_pairs AS (
  SELECT id_a, id_b FROM cand
  WHERE CAST(len(list_intersect(sh_a, sh_b)) AS DOUBLE)
        / (len(sh_a) + len(sh_b) - len(list_intersect(sh_a, sh_b))) >= {jaccard_threshold}
),
cleaned AS (
  SELECT s.doc_id, s.tokens, s.source
  FROM survivors s
  WHERE s.doc_id NOT IN (SELECT id_b FROM near_pairs)
),
segflat AS (  -- segment-level dedup replay: split the CLEANED docs on 104
  SELECT doc_id, tok, i,
         SUM(CASE WHEN tok = 104 THEN 1 ELSE 0 END) OVER (
           PARTITION BY doc_id ORDER BY i
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS segr
  FROM (SELECT doc_id, unnest(tokens) AS tok,
               generate_subscripts(tokens, 1) AS i FROM cleaned)
),
segrows AS (
  SELECT doc_id, segr,
         CAST(row_number() OVER (PARTITION BY doc_id ORDER BY segr) - 1
              AS BIGINT) AS seg_id,
         CAST(SUM(tok) AS BIGINT) AS seg_sum,
         CAST(COUNT(*) AS BIGINT) AS seg_len,
         list_aggregate(list_transform(list(tok ORDER BY i),
                                       x -> CAST(x AS VARCHAR)),
                        'string_agg', ',') AS seg_key
  FROM segflat WHERE tok <> 104
  GROUP BY doc_id, segr
),
segkept AS (  -- first occurrence of each distinct segment wins corpus-wide
  SELECT doc_id, segr, seg_id, seg_sum, seg_len,
         CASE WHEN row_number() OVER (PARTITION BY seg_key
                                      ORDER BY doc_id ASC, seg_id ASC) = 1
              THEN 1 ELSE 0 END AS seg_kept
  FROM segrows
),
rebuilt AS (  -- reassembly digest: kept segments concatenated in order
  SELECT doc_id,
         CAST(SUM(CAST(tok AS BIGINT) * rn) % 1000003 AS BIGINT) AS clean_digest
  FROM (
    SELECT f.doc_id, f.tok,
           row_number() OVER (PARTITION BY f.doc_id
                              ORDER BY f.segr, f.i) AS rn
    FROM segflat f JOIN segkept k ON f.doc_id = k.doc_id AND f.segr = k.segr
    WHERE f.tok <> 104 AND k.seg_kept = 1
  ) GROUP BY doc_id
),
segdoc AS (
  SELECT doc_id,
         CAST(SUM(seg_kept) AS BIGINT) AS segs_kept,
         CAST(COUNT(*) - SUM(seg_kept) AS BIGINT) AS segs_removed,
         CAST(SUM(CASE WHEN seg_kept = 1 THEN seg_len ELSE 0 END) AS BIGINT) AS clean_n_tok,
         CAST(SUM(CASE WHEN seg_kept = 1 THEN seg_sum ELSE 0 END) AS BIGINT) AS clean_tok_sum
  FROM segkept GROUP BY doc_id
),
bpkeys AS (  -- boilerplate: content in >= 2 DISTINCT docs (not raw count)
  SELECT seg_key FROM segrows GROUP BY seg_key
  HAVING COUNT(DISTINCT doc_id) >= 2
),
bpdoc AS (
  SELECT doc_id,
         CAST(COUNT(*) AS BIGINT) AS bp_segs,
         CAST(SUM(seg_len) AS BIGINT) AS bp_tok
  FROM segrows s JOIN bpkeys USING (seg_key) GROUP BY doc_id
),
pfxbase AS (  -- prefix-containment: block on the exact first-8 prefix
  SELECT doc_id, tokens, CAST(n_tok AS BIGINT) AS n_tok,
         tokens[1:8] AS pkey
  FROM aug WHERE n_tok >= 8
),
pfxpairs AS (  -- contained = strictly shorter, or higher id when equal;
               -- verified element-for-element on the container's prefix
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.n_tok AS n_tok_a
  FROM pfxbase a JOIN pfxbase b ON a.pkey = b.pkey
  WHERE (a.n_tok < b.n_tok OR (a.n_tok = b.n_tok AND a.doc_id > b.doc_id))
    AND list_slice(b.tokens, 1, CAST(a.n_tok AS INTEGER)) = a.tokens
),
pfxcont AS (
  SELECT id_a AS doc_id, MIN(id_b) AS pfx_container,
         CAST(COUNT(*) AS BIGINT) AS pfx_n_containers
  FROM pfxpairs GROUP BY id_a
),
pfxcontr AS (
  SELECT id_b AS doc_id, CAST(COUNT(*) AS BIGINT) AS pfx_contains,
         CAST(SUM(n_tok_a) AS BIGINT) AS pfx_contained_mass
  FROM pfxpairs GROUP BY id_b
),
sfxbase AS (  -- suffix containment = prefix containment over the reversal
  SELECT doc_id, list_reverse(tokens) AS tokens,
         CAST(n_tok AS BIGINT) AS n_tok,
         list_reverse(tokens)[1:8] AS pkey
  FROM aug WHERE n_tok >= 8
),
sfxpairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.n_tok AS n_tok_a
  FROM sfxbase a JOIN sfxbase b ON a.pkey = b.pkey
  WHERE (a.n_tok < b.n_tok OR (a.n_tok = b.n_tok AND a.doc_id > b.doc_id))
    AND list_slice(b.tokens, 1, CAST(a.n_tok AS INTEGER)) = a.tokens
),
sfxcont AS (
  SELECT id_a AS doc_id, MIN(id_b) AS sfx_container,
         CAST(COUNT(*) AS BIGINT) AS sfx_n_containers
  FROM sfxpairs GROUP BY id_a
),
sfxcontr AS (
  SELECT id_b AS doc_id, CAST(COUNT(*) AS BIGINT) AS sfx_contains,
         CAST(SUM(n_tok_a) AS BIGINT) AS sfx_contained_mass
  FROM sfxpairs GROUP BY id_b
),
ppjex AS (  -- PPJoin over the SHINGLE sets; canonical global order =
            -- (doc-frequency asc, shingle asc)
  SELECT doc_id, unnest(sh) AS tok FROM shingled
),
ppjfreq AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS cnt
            FROM ppjex GROUP BY tok),
ppjord AS (
  SELECT doc_id, list(tok ORDER BY cnt, tok) AS ots,
         CAST(COUNT(*) AS BIGINT) AS s
  FROM ppjex JOIN ppjfreq USING (tok) GROUP BY doc_id
),
ppjpref AS (  -- prefix length |x| - ceil(t|x|) + 1, t = 3/5
  SELECT doc_id, s,
         unnest(list_slice(ots, 1, CAST(s - (3 * s + 4) // 5 + 1 AS BIGINT)))
           AS tok
  FROM ppjord
),
ppjcand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM ppjpref a JOIN ppjpref b USING (tok)
  WHERE (a.s < b.s OR (a.s = b.s AND a.doc_id < b.doc_id))
    AND a.s * 5 >= 3 * b.s
),
ppjver AS (
  SELECT id_a, id_b,
         CAST(len(list_intersect(x.ots, y.ots)) AS BIGINT) AS inter,
         CAST(x.s + y.s - len(list_intersect(x.ots, y.ots)) AS BIGINT) AS uni
  FROM ppjcand c JOIN ppjord x ON x.doc_id = c.id_a
                 JOIN ppjord y ON y.doc_id = c.id_b
  WHERE len(list_intersect(x.ots, y.ots)) * 5
        >= 3 * (x.s + y.s - len(list_intersect(x.ots, y.ots)))
),
ppjdoc AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS ppj_partners,
         CAST(SUM(inter) AS BIGINT) AS ppj_inter_sum,
         CAST(SUM(uni) AS BIGINT) AS ppj_union_sum
  FROM (SELECT id_a AS doc_id, inter, uni FROM ppjver
        UNION ALL SELECT id_b AS doc_id, inter, uni FROM ppjver)
  GROUP BY doc_id
),
mixo AS (  -- wave 124: per-source token mass before the pipeline
  SELECT source, CAST(SUM(n_tok) AS BIGINT) AS src_orig_mass
  FROM aug GROUP BY source
),
mixc AS (  -- per-source surviving mass after segment-level cleaning
  SELECT c.source,
         CAST(SUM(COALESCE(d.clean_n_tok, 0)) AS BIGINT) AS src_clean_mass
  FROM cleaned c LEFT JOIN segdoc d USING (doc_id) GROUP BY c.source
),
mixt AS (
  SELECT (SELECT CAST(SUM(src_orig_mass) AS BIGINT) FROM mixo) AS to2,
         (SELECT CAST(SUM(src_clean_mass) AS BIGINT) FROM mixc) AS tc2
),
mixx AS (  -- share drift: cross-multiplied exact integer, ONE div/share
  SELECT o.source, o.src_orig_mass, cc.src_clean_mass,
         CAST(ABS(cc.src_clean_mass * t.to2 - o.src_orig_mass * t.tc2)
              AS BIGINT) AS src_mix_drift,
         FLOOR(CAST(o.src_orig_mass AS DOUBLE) / CAST(t.to2 AS DOUBLE)
               * 10000.0 + 0.5) / 10000.0 AS src_orig_share4,
         FLOOR(CAST(cc.src_clean_mass AS DOUBLE) / CAST(t.tc2 AS DOUBLE)
               * 10000.0 + 0.5) / 10000.0 AS src_clean_share4
  FROM mixo o JOIN mixc cc USING (source), mixt t
)
SELECT c.doc_id, c.source,
       COALESCE(d.segs_kept, 0) AS segs_kept,
       COALESCE(d.segs_removed, 0) AS segs_removed,
       COALESCE(d.clean_n_tok, 0) AS clean_n_tok,
       COALESCE(d.clean_tok_sum, 0) AS clean_tok_sum,
       COALESCE(rb.clean_digest, -1) AS clean_digest,
       COALESCE(bp.bp_segs, 0) AS bp_segs,
       COALESCE(bp.bp_tok, 0) AS bp_tok,
       CAST(CASE WHEN pc.pfx_container IS NULL THEN 0 ELSE 1 END AS BIGINT)
         AS pfx_contained,
       COALESCE(pc.pfx_container, '') AS pfx_container,
       COALESCE(pc.pfx_n_containers, 0) AS pfx_n_containers,
       COALESCE(pr.pfx_contains, 0) AS pfx_contains,
       COALESCE(pr.pfx_contained_mass, 0) AS pfx_contained_mass,
       CAST(CASE WHEN sc.sfx_container IS NULL THEN 0 ELSE 1 END AS BIGINT)
         AS sfx_contained,
       COALESCE(sc.sfx_container, '') AS sfx_container,
       COALESCE(sc.sfx_n_containers, 0) AS sfx_n_containers,
       COALESCE(sr.sfx_contains, 0) AS sfx_contains,
       COALESCE(sr.sfx_contained_mass, 0) AS sfx_contained_mass,
       COALESCE(pj.ppj_partners, 0) AS ppj_partners,
       COALESCE(pj.ppj_inter_sum, 0) AS ppj_inter_sum,
       COALESCE(pj.ppj_union_sum, 0) AS ppj_union_sum,
       COALESCE(xv.exact_victims, 0) AS exact_victims,
       COALESCE(nv.near_victims, 0) AS near_victims,
       mx.src_orig_mass, mx.src_clean_mass, mx.src_mix_drift,
       mx.src_orig_share4, mx.src_clean_share4
FROM cleaned c LEFT JOIN segdoc d USING (doc_id)
JOIN mixx mx ON mx.source = c.source
LEFT JOIN rebuilt rb USING (doc_id)
LEFT JOIN bpdoc bp USING (doc_id)
LEFT JOIN pfxcont pc USING (doc_id)
LEFT JOIN pfxcontr pr USING (doc_id)
LEFT JOIN sfxcont sc USING (doc_id)
LEFT JOIN sfxcontr sr USING (doc_id)
LEFT JOIN ppjdoc pj USING (doc_id)
LEFT JOIN (  -- drop provenance: exact-dup victims per winning survivor
  SELECT MIN(doc_id) AS doc_id, CAST(COUNT(*) - 1 AS BIGINT) AS exact_victims
  FROM keyed GROUP BY key
) xv USING (doc_id)
LEFT JOIN (  -- near-dup victims: pairs this survivor out-ranked
  SELECT id_a AS doc_id, CAST(COUNT(*) AS BIGINT) AS near_victims
  FROM near_pairs GROUP BY id_a
) nv USING (doc_id)
"""


def sql_langid(stopwords: dict[str, list[str]]) -> str:
    rows = []
    for lang in sorted(stopwords):
        ws = ", ".join(f"'{w}'" for w in stopwords[lang])
        rows.append(
            f"SELECT doc_id, '{lang}' AS lang_pred, "
            f"len(list_intersect(words, [{ws}])) AS score FROM w"
        )
    return f"""
WITH w AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS words FROM documents
),
scored AS ({' UNION ALL '.join(rows)}),
ranked AS (
  SELECT doc_id, lang_pred,
         row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, lang_pred ASC) AS rn
  FROM scored
)
SELECT doc_id, lang_pred FROM ranked WHERE rn = 1
"""


def sql_text_quality(en_stopwords: list[str]) -> str:
    ws = ", ".join(f"'{w}'" for w in en_stopwords)
    return f"""
WITH base AS (
  SELECT doc_id, text,
         list_filter(string_split(text, ' '), x -> x <> '') AS words,
         CAST(length(text) AS BIGINT) AS n_chars_derived,
         CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+')) AS BIGINT) AS n_re_words,
         CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS BIGINT) AS n_punct
  FROM documents
),
m AS (
  SELECT doc_id,
         CAST(len(words) AS INTEGER) AS n_words,
         n_chars_derived,
         CAST(n_re_words + n_punct AS INTEGER) AS re_tokens,
         CAST(n_punct AS DOUBLE) / n_chars_derived AS punct_ratio,
         CAST(len(list_intersect(words, [{ws}])) AS DOUBLE) / len(words) AS stop_ratio,
         (n_chars_derived - len(words) + 1.0) / len(words) AS mean_wlen
  FROM base
)
SELECT doc_id, n_words, n_chars_derived, re_tokens,
       FLOOR((mean_wlen) * 10000.0 + 0.5) / 10000.0 AS mean_word_len,
       FLOOR((punct_ratio) * 10000.0 + 0.5) / 10000.0 AS punct_ratio,
       FLOOR((stop_ratio) * 10000.0 + 0.5) / 10000.0 AS stopword_ratio,
       FLOOR((LEAST(n_words / 50.0, 1.0) * 0.4
             + LEAST(stop_ratio * 5.0, 1.0) * 0.4
             + (1.0 - LEAST(punct_ratio * 10.0, 1.0)) * 0.2) * 10000.0 + 0.5) / 10000.0 AS quality_score
FROM m
"""


def sql_glrlm(n_levels: int = 64) -> str:
    """Run-length features under matlab binning — gaps-and-islands SQL."""
    return f"""
WITH {SQL_TOKENS_STATIC},
flat AS (
  SELECT doc_id, n_tok, unnest(tokens) AS t, unnest(range(1, n_tok + 1)) AS i
  FROM tokens_static
),
stats AS (SELECT doc_id, min(t) AS mn, max(t) AS mx FROM flat GROUP BY doc_id),
binned AS (
  SELECT f.doc_id, f.i, f.n_tok,
         CASE WHEN f.t = 0 THEN 1
              ELSE LEAST(GREATEST(CAST(FLOOR(({n_levels}.0 / s.mx) * f.t + 1) AS INTEGER), 1), {n_levels})
         END AS g
  FROM flat f JOIN stats s USING (doc_id) WHERE s.mx > s.mn
),
flagged AS (
  SELECT doc_id, i, g, n_tok,
         CASE WHEN lag(g) OVER w IS NULL OR lag(g) OVER w <> g THEN 1 ELSE 0 END AS f
  FROM binned WINDOW w AS (PARTITION BY doc_id ORDER BY i)
),
islands AS (
  SELECT doc_id, g, n_tok,
         SUM(f) OVER (PARTITION BY doc_id ORDER BY i
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_id
  FROM flagged
),
runs AS (
  SELECT doc_id, g, run_id, CAST(COUNT(*) AS BIGINT) AS l, MAX(n_tok) AS n_tok
  FROM islands GROUP BY doc_id, g, run_id
),
folds AS (
  -- inverse-weighted sums replay the kernel's np.bincount sequential fold
  -- in run order (list_reduce ORDER BY run_id), per-term exact doubles
  SELECT doc_id,
         list_reduce(list(1.0 / CAST(l * l AS DOUBLE) ORDER BY run_id),
                     (a, b) -> a + b) AS sre_s,
         list_reduce(list(1.0 / CAST(g * g AS DOUBLE) ORDER BY run_id),
                     (a, b) -> a + b) AS lglre_s,
         list_reduce(list(1.0 / (CAST(g * g AS DOUBLE) * CAST(l * l AS DOUBLE))
                          ORDER BY run_id), (a, b) -> a + b) AS srlgle_s,
         list_reduce(list(CAST(g * g AS DOUBLE) / CAST(l * l AS DOUBLE)
                          ORDER BY run_id), (a, b) -> a + b) AS srhgle_s,
         list_reduce(list(CAST(l * l AS DOUBLE) / CAST(g * g AS DOUBLE)
                          ORDER BY run_id), (a, b) -> a + b) AS lrlgle_s
  FROM runs GROUP BY doc_id
),
per_doc AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS nr, MAX(n_tok) AS np,
         CAST(SUM(l * l) AS BIGINT) AS sll,
         CAST(SUM(g * g) AS BIGINT) AS sgg,
         CAST(SUM(g) AS BIGINT) AS sg,
         CAST(SUM(l) AS BIGINT) AS sl,
         CAST(SUM(g * g * l * l) AS BIGINT) AS sggll
  FROM runs GROUP BY doc_id
),
gln AS (
  SELECT doc_id, CAST(SUM(c * c) AS BIGINT) AS v
  FROM (SELECT doc_id, g, COUNT(*) AS c FROM runs GROUP BY doc_id, g)
  GROUP BY doc_id
),
rln AS (
  SELECT doc_id, CAST(SUM(c * c) AS BIGINT) AS v
  FROM (SELECT doc_id, l, COUNT(*) AS c FROM runs GROUP BY doc_id, l)
  GROUP BY doc_id
)
SELECT p.doc_id,
       FLOOR((CAST(p.sll AS DOUBLE) / p.nr) * 10000.0 + 0.5) / 10000.0 AS glrlm_lre,
       FLOOR((CAST(p.nr AS DOUBLE) / p.np) * 10000.0 + 0.5) / 10000.0 AS glrlm_rp,
       FLOOR((CAST(p.sgg AS DOUBLE) / p.nr) * 10000.0 + 0.5) / 10000.0 AS glrlm_hglre,
       FLOOR((CAST(gln.v AS DOUBLE) / p.nr) * 10000.0 + 0.5) / 10000.0 AS glrlm_gln,
       FLOOR((CAST(rln.v AS DOUBLE) / p.nr) * 10000.0 + 0.5) / 10000.0 AS glrlm_rln,
       -- normalized variants replay the kernel's (v/nr)/nr two-step division
       FLOOR(((CAST(gln.v AS DOUBLE) / p.nr) / p.nr) * 10000.0 + 0.5) / 10000.0 AS glrlm_glnn,
       FLOOR(((CAST(rln.v AS DOUBLE) / p.nr) / p.nr) * 10000.0 + 0.5) / 10000.0 AS glrlm_rlnn,
       FLOOR((CAST(p.sggll AS DOUBLE) / p.nr) * 10000.0 + 0.5) / 10000.0 AS glrlm_lrhgle,
       -- exact-numerator variance (N·Σx² − (Σx)²)/N², texture.py _run_family
       FLOOR((CAST(p.nr * p.sgg - p.sg * p.sg AS DOUBLE) / (CAST(p.nr AS DOUBLE) * p.nr))
             * 10000.0 + 0.5) / 10000.0 AS glrlm_glv,
       FLOOR((CAST(p.nr * p.sll - p.sl * p.sl AS DOUBLE) / (CAST(p.nr AS DOUBLE) * p.nr))
             * 10000.0 + 0.5) / 10000.0 AS glrlm_rv,
       FLOOR((fo.sre_s / p.nr) * 10000.0 + 0.5) / 10000.0 AS glrlm_sre,
       FLOOR((fo.lglre_s / p.nr) * 10000.0 + 0.5) / 10000.0 AS glrlm_lglre,
       FLOOR((fo.srlgle_s / p.nr) * 10000.0 + 0.5) / 10000.0 AS glrlm_srlgle,
       FLOOR((fo.srhgle_s / p.nr) * 10000.0 + 0.5) / 10000.0 AS glrlm_srhgle,
       FLOOR((fo.lrlgle_s / p.nr) * 10000.0 + 0.5) / 10000.0 AS glrlm_lrlgle
FROM per_doc p JOIN gln USING (doc_id) JOIN rln USING (doc_id)
JOIN folds fo USING (doc_id)
"""


def sql_glrlm_bg(n_levels: int = 64, zero_mod: int = 7) -> str:
    """Run-length oracle for the BACKGROUND-BREAK path: a deterministic
    derivation zeroes every token divisible by `zero_mod`; under radiomics
    binning zeros map to level 0 (texture_feature.h:106-118) and BREAK runs
    (zeros are excluded and non-adjacent survivors must not merge — hence the
    lag(i) adjacency check in the gaps-and-islands flag)."""
    return f"""
WITH {SQL_TOKENS_STATIC},
derived AS (
  SELECT doc_id, n_tok,
         list_transform(tokens, x -> CASE WHEN x % {zero_mod} = 0 THEN 0 ELSE x END) AS tokens
  FROM tokens_static
),
flat AS (
  SELECT doc_id, n_tok, unnest(tokens) AS t, unnest(range(1, n_tok + 1)) AS i
  FROM derived
),
stats AS (SELECT doc_id, min(t) AS mn, max(t) AS mx FROM flat GROUP BY doc_id),
binned AS (
  SELECT f.doc_id, f.i,
         CASE WHEN f.t = 0 THEN 0
              ELSE LEAST(CAST(FLOOR(CAST(f.t - s.mn AS DOUBLE)
                                    / ((s.mx - s.mn) / {n_levels}.0)) AS INTEGER) + 1,
                         {n_levels})
         END AS g
  FROM flat f JOIN stats s USING (doc_id) WHERE s.mx > s.mn
),
nz AS (SELECT doc_id, i, g FROM binned WHERE g > 0),
npd AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS np FROM nz GROUP BY doc_id),
flagged AS (
  SELECT doc_id, i, g,
         CASE WHEN lag(g) OVER w IS NULL OR lag(g) OVER w <> g
                OR lag(i) OVER w <> i - 1 THEN 1 ELSE 0 END AS f
  FROM nz WINDOW w AS (PARTITION BY doc_id ORDER BY i)
),
islands AS (
  SELECT doc_id, g,
         SUM(f) OVER (PARTITION BY doc_id ORDER BY i
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_id
  FROM flagged
),
runs AS (
  SELECT doc_id, g, CAST(COUNT(*) AS BIGINT) AS l
  FROM islands GROUP BY doc_id, g, run_id
),
per_doc AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS nr,
         CAST(SUM(l * l) AS BIGINT) AS sll,
         CAST(SUM(g * g) AS BIGINT) AS sgg
  FROM runs GROUP BY doc_id
),
gln AS (
  SELECT doc_id, CAST(SUM(c * c) AS BIGINT) AS v
  FROM (SELECT doc_id, g, COUNT(*) AS c FROM runs GROUP BY doc_id, g)
  GROUP BY doc_id
),
rln AS (
  SELECT doc_id, CAST(SUM(c * c) AS BIGINT) AS v
  FROM (SELECT doc_id, l, COUNT(*) AS c FROM runs GROUP BY doc_id, l)
  GROUP BY doc_id
)
SELECT p.doc_id,
       FLOOR((CAST(p.sll AS DOUBLE) / p.nr) * 10000.0 + 0.5) / 10000.0 AS glrlm_lre,
       FLOOR((CAST(p.nr AS DOUBLE) / n.np) * 10000.0 + 0.5) / 10000.0 AS glrlm_rp,
       FLOOR((CAST(p.sgg AS DOUBLE) / p.nr) * 10000.0 + 0.5) / 10000.0 AS glrlm_hglre,
       FLOOR((CAST(gln.v AS DOUBLE) / p.nr) * 10000.0 + 0.5) / 10000.0 AS glrlm_gln,
       FLOOR((CAST(rln.v AS DOUBLE) / p.nr) * 10000.0 + 0.5) / 10000.0 AS glrlm_rln
FROM per_doc p JOIN npd n USING (doc_id)
JOIN gln USING (doc_id) JOIN rln USING (doc_id)
"""


def sql_glszm(n_levels: int = 64) -> str:
    """GLSZM oracle: in 1-D, zones (connected same-grey components,
    glszm.cpp:82-135 DFS) degenerate to runs, so the zone matrix equals the
    run-length matrix — same gaps-and-islands SQL, GLSZM feature naming."""
    sql = sql_glrlm(n_levels)
    # longest names first: glrlm_glnn must not be clobbered by the glrlm_gln
    # substring replacement
    for rl, sz in [("glrlm_lrhgle", "glszm_lahgle"), ("glrlm_glnn", "glszm_glnn"),
                   ("glrlm_rlnn", "glszm_sznn"), ("glrlm_srlgle", "glszm_salgle"),
                   ("glrlm_srhgle", "glszm_sahgle"), ("glrlm_lrlgle", "glszm_lalgle"),
                   ("glrlm_lglre", "glszm_lglze"), ("glrlm_sre", "glszm_sae"),
                   ("glrlm_lre", "glszm_lae"),
                   ("glrlm_rp", "glszm_zp"), ("glrlm_hglre", "glszm_hglze"),
                   ("glrlm_glv", "glszm_glv"), ("glrlm_rv", "glszm_zv"),
                   ("glrlm_gln", "glszm_gln"), ("glrlm_rln", "glszm_szn")]:
        sql = sql.replace(rl, sz)
    return sql


def sql_gldzm(n_levels: int = 64) -> str:
    """GLDZM oracle: zone distance = distance of a run to the nearer sequence
    border, dist = min(start0, (n_tok−1)−end0)+1 (gldzm.cpp:244-256 analog) —
    an exact integer per run, so LDE/ZP/HGLZE/GLNU/ZDNU are integer-numerator
    with one final division, like the glrlm oracle."""
    return f"""
WITH {SQL_TOKENS_STATIC},
flat AS (
  SELECT doc_id, n_tok, unnest(tokens) AS t, unnest(range(1, n_tok + 1)) AS i
  FROM tokens_static
),
stats AS (SELECT doc_id, min(t) AS mn, max(t) AS mx FROM flat GROUP BY doc_id),
binned AS (
  SELECT f.doc_id, f.i, f.n_tok,
         CASE WHEN f.t = 0 THEN 1
              ELSE LEAST(GREATEST(CAST(FLOOR(({n_levels}.0 / s.mx) * f.t + 1) AS INTEGER), 1), {n_levels})
         END AS g
  FROM flat f JOIN stats s USING (doc_id) WHERE s.mx > s.mn
),
flagged AS (
  SELECT doc_id, i, g, n_tok,
         CASE WHEN lag(g) OVER w IS NULL OR lag(g) OVER w <> g THEN 1 ELSE 0 END AS f
  FROM binned WINDOW w AS (PARTITION BY doc_id ORDER BY i)
),
islands AS (
  SELECT doc_id, g, n_tok,
         SUM(f) OVER (PARTITION BY doc_id ORDER BY i
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_id,
         i
  FROM flagged
),
runs AS (
  SELECT doc_id, g, run_id,
         LEAST(MIN(i) - 1, MAX(n_tok) - MAX(i)) + 1 AS d,
         MAX(n_tok) AS n_tok
  FROM islands GROUP BY doc_id, g, run_id
),
folds AS (
  -- inverse-weighted sums are order-dependent float folds; the kernel
  -- accumulates them via np.bincount = a sequential per-doc fold in run
  -- order, replayed here addition-for-addition with list_reduce over
  -- list(term ORDER BY run_id) (the NGTDM-COMPLEXITY replay pattern).
  -- Every per-term value is exact (integer squares, one IEEE divide).
  SELECT doc_id,
         list_reduce(list(1.0 / CAST(d * d AS DOUBLE) ORDER BY run_id),
                     (a, b) -> a + b) AS sde_s,
         list_reduce(list(1.0 / CAST(g * g AS DOUBLE) ORDER BY run_id),
                     (a, b) -> a + b) AS lglze_s,
         list_reduce(list(1.0 / (CAST(g * g AS DOUBLE) * CAST(d * d AS DOUBLE))
                          ORDER BY run_id), (a, b) -> a + b) AS sdlgle_s,
         list_reduce(list(CAST(g * g AS DOUBLE) / CAST(d * d AS DOUBLE)
                          ORDER BY run_id), (a, b) -> a + b) AS sdhgle_s,
         list_reduce(list(CAST(d * d AS DOUBLE) / CAST(g * g AS DOUBLE)
                          ORDER BY run_id), (a, b) -> a + b) AS ldlgle_s
  FROM runs GROUP BY doc_id
),
per_doc AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS nr, MAX(n_tok) AS np,
         CAST(SUM(d * d) AS BIGINT) AS sdd,
         CAST(SUM(g * g) AS BIGINT) AS sgg,
         CAST(SUM(g) AS BIGINT) AS sg,
         CAST(SUM(d) AS BIGINT) AS sd,
         CAST(SUM(g * g * d * d) AS BIGINT) AS sggdd
  FROM runs GROUP BY doc_id
),
glnu AS (
  SELECT doc_id, CAST(SUM(c * c) AS BIGINT) AS v
  FROM (SELECT doc_id, g, COUNT(*) AS c FROM runs GROUP BY doc_id, g)
  GROUP BY doc_id
),
zdnu AS (
  SELECT doc_id, CAST(SUM(c * c) AS BIGINT) AS v
  FROM (SELECT doc_id, d, COUNT(*) AS c FROM runs GROUP BY doc_id, d)
  GROUP BY doc_id
)
SELECT p.doc_id,
       FLOOR((CAST(p.sdd AS DOUBLE) / p.nr) * 10000.0 + 0.5) / 10000.0 AS gldzm_lde,
       FLOOR((CAST(p.nr AS DOUBLE) / p.np) * 10000.0 + 0.5) / 10000.0 AS gldzm_zp,
       FLOOR((CAST(p.sgg AS DOUBLE) / p.nr) * 10000.0 + 0.5) / 10000.0 AS gldzm_hglze,
       FLOOR((CAST(glnu.v AS DOUBLE) / p.nr) * 10000.0 + 0.5) / 10000.0 AS gldzm_glnu,
       FLOOR((CAST(zdnu.v AS DOUBLE) / p.nr) * 10000.0 + 0.5) / 10000.0 AS gldzm_zdnu,
       -- normalized non-uniformities replay the kernel's (v/nr)/nr two-step
       FLOOR(((CAST(glnu.v AS DOUBLE) / p.nr) / p.nr) * 10000.0 + 0.5) / 10000.0 AS gldzm_glnun,
       FLOOR(((CAST(zdnu.v AS DOUBLE) / p.nr) / p.nr) * 10000.0 + 0.5) / 10000.0 AS gldzm_zdnun,
       FLOOR((CAST(p.sg AS DOUBLE) / p.nr) * 10000.0 + 0.5) / 10000.0 AS gldzm_glm,
       FLOOR((CAST(p.sd AS DOUBLE) / p.nr) * 10000.0 + 0.5) / 10000.0 AS gldzm_zdm,
       -- variance in the exact-numerator form (N·Σx² − (Σx)²)/N², matching
       -- texture.py _run_family's single-division formulation
       FLOOR((CAST(p.nr * p.sgg - p.sg * p.sg AS DOUBLE) / (CAST(p.nr AS DOUBLE) * p.nr))
             * 10000.0 + 0.5) / 10000.0 AS gldzm_glv,
       FLOOR((CAST(p.nr * p.sdd - p.sd * p.sd AS DOUBLE) / (CAST(p.nr AS DOUBLE) * p.nr))
             * 10000.0 + 0.5) / 10000.0 AS gldzm_zdv,
       FLOOR((fo.sde_s / p.nr) * 10000.0 + 0.5) / 10000.0 AS gldzm_sde,
       FLOOR((fo.lglze_s / p.nr) * 10000.0 + 0.5) / 10000.0 AS gldzm_lglze,
       FLOOR((fo.sdlgle_s / p.nr) * 10000.0 + 0.5) / 10000.0 AS gldzm_sdlgle,
       FLOOR((fo.sdhgle_s / p.nr) * 10000.0 + 0.5) / 10000.0 AS gldzm_sdhgle,
       FLOOR((fo.ldlgle_s / p.nr) * 10000.0 + 0.5) / 10000.0 AS gldzm_ldlgle,
       FLOOR((CAST(p.sggdd AS DOUBLE) / p.nr) * 10000.0 + 0.5) / 10000.0 AS gldzm_ldhgle
FROM per_doc p JOIN glnu USING (doc_id) JOIN zdnu USING (doc_id)
JOIN folds fo USING (doc_id)
"""


def sql_radial() -> str:
    """Radial-distribution oracle (FRAC_AT_D bands, signal.py radial_section).

    Band assignment replays the kernel's float ops in the identical IEEE
    order (one m1/m0 division, one subtraction, one division by reach, one
    ×8, floor), so band indices are bit-identical; per-band token mass and
    total mass are exact integers, and each fraction is ONE final division.
    """
    return f"""
WITH {SQL_TOKENS_STATIC},
flat AS (
  SELECT doc_id, n_tok, unnest(tokens) AS t, unnest(range(0, n_tok)) AS i
  FROM tokens_static
),
m AS (
  SELECT doc_id,
         CAST(SUM(CAST(t AS BIGINT)) AS BIGINT) AS m0,
         CAST(SUM(CAST(t AS BIGINT) * i) AS BIGINT) AS m1,
         MAX(n_tok) AS n_tok
  FROM flat GROUP BY doc_id HAVING SUM(t) > 0
),
cen AS (
  SELECT doc_id, n_tok, m0,
         CAST(m1 AS DOUBLE) / m0 AS c,
         CASE WHEN GREATEST(CAST(m1 AS DOUBLE) / m0,
                            (n_tok - 1) - CAST(m1 AS DOUBLE) / m0) > 0
              THEN GREATEST(CAST(m1 AS DOUBLE) / m0,
                            (n_tok - 1) - CAST(m1 AS DOUBLE) / m0)
              ELSE 1.0 END AS reach
  FROM m
),
banded AS (
  SELECT f.doc_id, c.m0,
         LEAST(CAST(FLOOR((abs(f.i - c.c) / c.reach) * 8) AS INTEGER), 7) AS band,
         CAST(f.t AS BIGINT) AS t
  FROM flat f JOIN cen c USING (doc_id)
),
wm AS (
  SELECT doc_id, m0, band, CAST(SUM(t) AS BIGINT) AS w
  FROM banded GROUP BY doc_id, m0, band
)
SELECT doc_id,
       {", ".join(
           f"FLOOR((CAST(COALESCE(SUM(w) FILTER (band = {k}), 0) AS DOUBLE) / m0)"
           f" * 10000.0 + 0.5) / 10000.0 AS frac_at_d_{k}" for k in range(8))}
FROM wm GROUP BY doc_id, m0
"""


def sql_gabor() -> str:
    """Gabor energy-ratio oracle over the QUANTIZED integer bank.

    The kernel (features/signal.py) convolves 14-bit fixed-point taps in
    exact int64 arithmetic; GABOR_E_f = Σ|resp_f|² / Σ|resp_base|² is a
    ratio of two exact integers with one final double division. This SQL
    embeds the same integer taps as literals (quantized_taps()), replays
    the convolution per valid center position, and performs the identical
    CAST-to-double division — bit-identical to the kernel
    (gabor.cpp:43-122 is the 2-D original this recasts).
    Filters: n_tok >= K (valid window exists), list_max(tokens) > 0
    (for n >= K, base energy is zero iff every token is zero), and the int64
    exactness bound within_bound_sql — the same predicate under which the
    kernel emits softNAN instead of risking silent wraparound (DuckDB's
    HUGEINT SUM never wraps, so without this filter the engines would
    diverge exactly where the kernel protects itself)."""
    from nyxus_spark.features.signal import (
        GABOR_FREQS, K, quantized_taps, within_bound_sql,
    )

    qbase, qks = quantized_taps()
    c = K // 2

    def conv_expr(taps):
        terms = [
            f"({t}) * tokens[i + ({k - c})]" for k, t in enumerate(taps) if t != 0
        ]
        # the f=8 sine carrier is identically zero after quantization
        return " + ".join(terms) if terms else "CAST(0 AS BIGINT)"

    conv_cols = [f"CAST({conv_expr(qbase)} AS BIGINT) AS rb"]
    for f in GABOR_FREQS:
        kc, ksn = qks[f]
        conv_cols.append(f"CAST({conv_expr(kc)} AS BIGINT) AS rc{f}")
        conv_cols.append(f"CAST({conv_expr(ksn)} AS BIGINT) AS rs{f}")
    e_cols = ["CAST(SUM(rb * rb) AS BIGINT) AS eb"] + [
        f"CAST(SUM(rc{f} * rc{f} + rs{f} * rs{f}) AS BIGINT) AS e{f}"
        for f in GABOR_FREQS
    ]
    sel = [
        f"FLOOR((CAST(e{f} AS DOUBLE) / CAST(eb AS DOUBLE)) * 10000.0 + 0.5) / 10000.0"
        f" AS gabor_e_{f}"
        for f in GABOR_FREQS
    ]
    return f"""
WITH {SQL_TOKENS_STATIC},
docs AS (
  SELECT doc_id, tokens, n_tok FROM tokens_static
  WHERE n_tok >= {K} AND list_max(tokens) > 0
    AND {within_bound_sql('n_tok', 'list_max(tokens)')}
),
pos AS (
  SELECT doc_id, tokens, unnest(range({c + 1}, n_tok - {c - 1})) AS i FROM docs
),
conv AS (SELECT doc_id, {', '.join(conv_cols)} FROM pos),
energy AS (SELECT doc_id, {', '.join(e_cols)} FROM conv GROUP BY doc_id)
SELECT doc_id, {', '.join(sel)} FROM energy WHERE eb > 0
"""


def sql_ngtdm(n_levels: int = 64) -> str:
    """NGTDM coarseness oracle (offset 1, matlab binning).

    With a ±1 neighborhood every neighbor-mean is over 1 or 2 values, so
    2·s_i = |2g − (prev+next)| (interior) or 2·|g − nbr| (edge) is an exact
    INTEGER.  Coarseness = 1/Σ p_l·S_l = Nvc/Σ N_l·S_l = 2·Nvc / Σ N_l·(2S_l)
    — integer numerator and denominator, one final division, bit-identical to
    the kernel's single-division form (texture.py ngtdm_section).
    Degenerate filter: fewer than two distinct grey levels (ngtdm.cpp
    "binned data uninformative" path → softNAN, excluded on both sides).
    """
    return f"""
WITH {SQL_TOKENS_STATIC},
flat AS (
  SELECT doc_id, n_tok, unnest(tokens) AS t, unnest(range(1, n_tok + 1)) AS i
  FROM tokens_static
),
stats AS (SELECT doc_id, min(t) AS mn, max(t) AS mx FROM flat GROUP BY doc_id),
binned AS (
  SELECT f.doc_id, f.i,
         CASE WHEN f.t = 0 THEN 1
              ELSE LEAST(GREATEST(CAST(FLOOR(({n_levels}.0 / s.mx) * f.t + 1) AS INTEGER), 1), {n_levels})
         END AS g
  FROM flat f JOIN stats s USING (doc_id) WHERE s.mx > s.mn
),
nbr AS (
  SELECT doc_id, g,
         lag(g) OVER w AS p, lead(g) OVER w AS nx
  FROM binned WINDOW w AS (PARTITION BY doc_id ORDER BY i)
),
s2 AS (
  SELECT doc_id, g,
         CASE WHEN p IS NOT NULL AND nx IS NOT NULL THEN abs(2 * g - p - nx)
              WHEN p IS NOT NULL THEN 2 * abs(g - p)
              ELSE 2 * abs(g - nx) END AS s2
  FROM nbr WHERE p IS NOT NULL OR nx IS NOT NULL
),
levels AS (
  SELECT doc_id, g, CAST(COUNT(*) AS BIGINT) AS n_l, CAST(SUM(s2) AS BIGINT) AS s2_l
  FROM s2 GROUP BY doc_id, g
),
per_doc AS (
  SELECT doc_id, CAST(SUM(n_l) AS BIGINT) AS nvc, CAST(COUNT(*) AS BIGINT) AS ngp,
         CAST(SUM(n_l * s2_l) AS BIGINT) AS total2,
         CAST(SUM(n_l * g) AS BIGINT) AS a1,
         CAST(SUM(n_l * g * g) AS BIGINT) AS a2,
         CAST(SUM(g) AS BIGINT) AS t1v,
         CAST(SUM(g * g) AS BIGINT) AS t2v,
         CAST(SUM(s2_l) AS BIGINT) AS stot2
  FROM levels GROUP BY doc_id
),
ranked AS (  -- sorted-rank sum B = Σ(2r−k+1)·(n_l·g), the Σ|wᵢ−wⱼ| identity
  SELECT doc_id, n_l * g AS nv,
         row_number() OVER (PARTITION BY doc_id ORDER BY n_l * g) AS rn,
         COUNT(*) OVER (PARTITION BY doc_id) AS k
  FROM levels
),
bsum AS (
  SELECT doc_id, CAST(SUM((2 * rn - k - 1) * nv) AS BIGINT) AS b
  FROM ranked GROUP BY doc_id
),
-- complexity: the ONE intrinsically pairwise NGTDM code. Each pair term is a
-- fixed IEEE op sequence identical to the kernel's vectorized expression
-- (texture.py ngtdm_section: dlev·(Uᵢ+Uⱼ)/(pᵢ+pⱼ), U = p·S, p = N/Nvc,
-- S = s2_l/2 exact), and the per-doc accumulation is replayed in the kernel's
-- EXACT order — np.bincount adds pair terms sequentially in (i,j)-lexicographic
-- level order, which list_reduce over list(term ORDER BY li, lj) reproduces
-- addition-for-addition (the sql_percentiles op-order-replay technique).
cpairs AS (
  SELECT a.doc_id, a.g AS li, b.g AS lj,
         (CAST(b.g - a.g AS DOUBLE)
          * ((CAST(a.n_l AS DOUBLE) / CAST(p.nvc AS DOUBLE)) * (CAST(a.s2_l AS DOUBLE) / 2)
             + (CAST(b.n_l AS DOUBLE) / CAST(p.nvc AS DOUBLE)) * (CAST(b.s2_l AS DOUBLE) / 2)))
         / (CAST(a.n_l AS DOUBLE) / CAST(p.nvc AS DOUBLE)
            + CAST(b.n_l AS DOUBLE) / CAST(p.nvc AS DOUBLE)) AS term
  FROM levels a JOIN levels b USING (doc_id) JOIN per_doc p USING (doc_id)
  WHERE a.g < b.g
),
cfold AS (
  SELECT doc_id,
         list_reduce(list(term ORDER BY li, lj), (x, y) -> x + y) AS acc
  FROM cpairs GROUP BY doc_id
)
SELECT p.doc_id, p.nvc, p.ngp,
       FLOOR((CAST(2 * p.nvc AS DOUBLE) / p.total2) * 10000.0 + 0.5) / 10000.0 AS ngtdm_coarseness,
       -- contrast = (2·d1)·(s_tot/Nvc), d1 = (Nvc·A2 − A1²)/((Nvc·Nvc)·G) —
       -- identical IEEE op order to the kernel's exact-integer formulation
       FLOOR(((2 * (CAST(p.nvc * p.a2 - p.a1 * p.a1 AS DOUBLE)
                    / ((CAST(p.nvc AS DOUBLE) * p.nvc) * (p.ngp * (p.ngp - 1)))))
              * ((CAST(p.stot2 AS DOUBLE) / 2) / p.nvc)) * 10000.0 + 0.5) / 10000.0 AS ngtdm_contrast,
       FLOOR((CASE WHEN p.stot2 > 0
              THEN CAST(4 * (p.ngp * p.a2 - 2 * (p.t1v * p.a1) + p.t2v * p.nvc) AS DOUBLE)
                   / (CAST(p.nvc AS DOUBLE) * p.stot2)
              ELSE 0.0 END) * 10000.0 + 0.5) / 10000.0 AS ngtdm_strength,
       FLOOR((CASE WHEN b.b > 0
              THEN (CAST(p.total2 AS DOUBLE) / 2) / (2 * b.b)
              ELSE 0.0 END) * 10000.0 + 0.5) / 10000.0 AS ngtdm_busyness,
       -- complexity = (2·acc)/Nvc (kernel texture.py: 2.0 * acc / safe_Nvc)
       FLOOR(((2.0 * c.acc) / CAST(p.nvc AS DOUBLE)) * 10000.0 + 0.5) / 10000.0 AS ngtdm_complexity
FROM per_doc p JOIN bsum b USING (doc_id) JOIN cfold c USING (doc_id)
WHERE p.ngp >= 2
"""


def sql_glcm(n_levels: int = 64) -> str:
    """GLCM contrast/ASM/DIS under matlab binning (non-symmetric, offset 1)."""
    return f"""
WITH {SQL_TOKENS_STATIC},
flat AS (
  SELECT doc_id, n_tok, unnest(tokens) AS t, unnest(range(1, n_tok + 1)) AS i
  FROM tokens_static
),
stats AS (SELECT doc_id, min(t) AS mn, max(t) AS mx FROM flat GROUP BY doc_id),
binned AS (
  SELECT f.doc_id, f.i, f.t AS rawt,
         CASE WHEN f.t = 0 THEN 1
              ELSE LEAST(GREATEST(CAST(FLOOR(({n_levels}.0 / s.mx) * f.t + 1) AS INTEGER), 1), {n_levels})
         END AS g
  FROM flat f JOIN stats s USING (doc_id) WHERE s.mx > s.mn
),
pairs AS (
  SELECT doc_id, g AS a,
         lead(g) OVER w AS b,
         rawt, lead(rawt) OVER w AS rawt2
  FROM binned WINDOW w AS (PARTITION BY doc_id ORDER BY i)
),
valid AS (
  SELECT doc_id, a, b FROM pairs
  WHERE b IS NOT NULL AND rawt <> 0 AND rawt2 <> 0
),
cellcnt AS (SELECT doc_id, a, b, CAST(COUNT(*) AS BIGINT) AS c FROM valid GROUP BY 1, 2, 3),
-- exact-integer numerators, single final division (bit-deterministic; matches
-- the engine kernel's integer-numerator formulation)
sums AS (
  SELECT doc_id,
         CAST(SUM(c) AS BIGINT) AS s,
         CAST(SUM(c * (a - b) * (a - b)) AS BIGINT) AS ncontrast,
         CAST(SUM(c * c) AS BIGINT) AS nasm,
         CAST(SUM(c * abs(a - b)) AS BIGINT) AS ndis,
         CAST(SUM(c * (a + b)) AS BIGINT) AS nsumave,
         CAST(SUM(c * a * b) AS BIGINT) AS nacor,
         CAST(SUM(c * a) AS BIGINT) AS njave,
         CAST(MAX(c) AS BIGINT) AS cmax
  FROM cellcnt GROUP BY doc_id
),
folds AS (
  -- rational-weighted sums replay the kernel's np.bincount sequential fold
  -- over cells in ascending (a, b) order (np.unique-sorted keys); each term
  -- is p = c/s divided/multiplied by exact-integer factors, and the
  -- centered squares use the exact one-division means (jave/sumave/difave).
  -- Ng = 64 fixed under matlab binning (glcm.cpp:400-407).
  SELECT cc.doc_id,
         list_reduce(list((CAST(cc.c AS DOUBLE) / su.s) / (1.0 + ABS(cc.a - cc.b))
                          ORDER BY cc.a, cc.b), (x, y) -> x + y) AS hom1_s,
         list_reduce(list((CAST(cc.c AS DOUBLE) / su.s)
                          / (1.0 + (cc.a - cc.b) * (cc.a - cc.b))
                          ORDER BY cc.a, cc.b), (x, y) -> x + y) AS idm_s,
         list_reduce(list((CAST(cc.c AS DOUBLE) / su.s)
                          / (1.0 + ABS(cc.a - cc.b) / 64.0)
                          ORDER BY cc.a, cc.b), (x, y) -> x + y) AS idn_s,
         list_reduce(list((CAST(cc.c AS DOUBLE) / su.s)
                          / (1.0 + (cc.a - cc.b) * (cc.a - cc.b) / 4096.0)
                          ORDER BY cc.a, cc.b), (x, y) -> x + y) AS idmn_s,
         list_reduce(list(CASE WHEN cc.a <> cc.b THEN
                            (CAST(cc.c AS DOUBLE) / su.s)
                            / ((cc.a - cc.b) * (cc.a - cc.b)) ELSE 0.0 END
                          ORDER BY cc.a, cc.b), (x, y) -> x + y) AS iv_s,
         list_reduce(list((CAST(cc.c AS DOUBLE) / su.s)
                          * ((CAST(cc.a AS DOUBLE) - CAST(su.njave AS DOUBLE) / su.s)
                             * (CAST(cc.a AS DOUBLE) - CAST(su.njave AS DOUBLE) / su.s))
                          ORDER BY cc.a, cc.b), (x, y) -> x + y) AS jvar_s,
         list_reduce(list((CAST(cc.c AS DOUBLE) / su.s)
                          * ((CAST(cc.a + cc.b AS DOUBLE) - CAST(su.nsumave AS DOUBLE) / su.s)
                             * (CAST(cc.a + cc.b AS DOUBLE) - CAST(su.nsumave AS DOUBLE) / su.s))
                          ORDER BY cc.a, cc.b), (x, y) -> x + y) AS sumvar_s,
         list_reduce(list((CAST(cc.c AS DOUBLE) / su.s)
                          * ((CAST(ABS(cc.a - cc.b) AS DOUBLE) - CAST(su.ndis AS DOUBLE) / su.s)
                             * (CAST(ABS(cc.a - cc.b) AS DOUBLE) - CAST(su.ndis AS DOUBLE) / su.s))
                          ORDER BY cc.a, cc.b), (x, y) -> x + y) AS difvar_s
  FROM cellcnt cc JOIN sums su USING (doc_id)
  GROUP BY cc.doc_id
),
marg_a AS (  -- row marginal pxm[k] = fold of p over cells with a = k (b order)
  SELECT cc.doc_id, cc.a AS k,
         list_reduce(list(CAST(cc.c AS DOUBLE) / su.s ORDER BY cc.b),
                     (x, y) -> x + y) AS pm
  FROM cellcnt cc JOIN sums su USING (doc_id) GROUP BY cc.doc_id, cc.a
),
marg_b AS (
  SELECT cc.doc_id, cc.b AS k,
         list_reduce(list(CAST(cc.c AS DOUBLE) / su.s ORDER BY cc.a),
                     (x, y) -> x + y) AS pm
  FROM cellcnt cc JOIN sums su USING (doc_id) GROUP BY cc.doc_id, cc.b
),
-- absent-level terms are exact 0.0 in the kernel's dense 65-slot sum, so
-- folding only the present levels (k ascending) is bit-identical
mux AS (
  SELECT doc_id, list_reduce(list(pm * CAST(k AS DOUBLE) ORDER BY k),
                             (x, y) -> x + y) AS v
  FROM marg_a GROUP BY doc_id
),
muy AS (
  SELECT doc_id, list_reduce(list(pm * CAST(k AS DOUBLE) ORDER BY k),
                             (x, y) -> x + y) AS v
  FROM marg_b GROUP BY doc_id
),
sigx AS (
  SELECT ma.doc_id,
         sqrt(list_reduce(list(ma.pm * ((CAST(ma.k AS DOUBLE) - mx.v)
                                        * (CAST(ma.k AS DOUBLE) - mx.v))
                               ORDER BY ma.k), (x, y) -> x + y)) AS v
  FROM marg_a ma JOIN mux mx USING (doc_id) GROUP BY ma.doc_id
),
sigy AS (
  SELECT mb.doc_id,
         sqrt(list_reduce(list(mb.pm * ((CAST(mb.k AS DOUBLE) - my.v)
                                        * (CAST(mb.k AS DOUBLE) - my.v))
                               ORDER BY mb.k), (x, y) -> x + y)) AS v
  FROM marg_b mb JOIN muy my USING (doc_id) GROUP BY mb.doc_id
),
folds2 AS (  -- joint-matrix folds needing the marginal means
  SELECT cc.doc_id,
         list_reduce(list((CAST(cc.c AS DOUBLE) / su.s)
                          * ((CAST(cc.a AS DOUBLE) - mx.v)
                             * (CAST(cc.a AS DOUBLE) - mx.v))
                          ORDER BY cc.a, cc.b), (x, y) -> x + y) AS var_s,
         list_reduce(list((CAST(cc.c AS DOUBLE) / su.s)
                          * ((CAST(cc.a + cc.b AS DOUBLE) - (mx.v + my.v))
                             * (CAST(cc.a + cc.b AS DOUBLE) - (mx.v + my.v)))
                          ORDER BY cc.a, cc.b), (x, y) -> x + y) AS clut_s,
         list_reduce(list((CAST(cc.c AS DOUBLE) / su.s)
                          * (((CAST(cc.a + cc.b AS DOUBLE) - (mx.v + my.v))
                              * (CAST(cc.a + cc.b AS DOUBLE) - (mx.v + my.v)))
                             * (CAST(cc.a + cc.b AS DOUBLE) - (mx.v + my.v)))
                          ORDER BY cc.a, cc.b), (x, y) -> x + y) AS clus_s,
         list_reduce(list((CAST(cc.c AS DOUBLE) / su.s)
                          * (((CAST(cc.a + cc.b AS DOUBLE) - (mx.v + my.v))
                              * (CAST(cc.a + cc.b AS DOUBLE) - (mx.v + my.v)))
                             * ((CAST(cc.a + cc.b AS DOUBLE) - (mx.v + my.v))
                                * (CAST(cc.a + cc.b AS DOUBLE) - (mx.v + my.v))))
                          ORDER BY cc.a, cc.b), (x, y) -> x + y) AS clup_s
  FROM cellcnt cc JOIN sums su USING (doc_id)
  JOIN mux mx USING (doc_id) JOIN muy my USING (doc_id)
  GROUP BY cc.doc_id
)
SELECT doc_id,
       FLOOR((CAST(ncontrast AS DOUBLE) / s) * 10000.0 + 0.5) / 10000.0 AS glcm_contrast,
       FLOOR((CAST(nasm AS DOUBLE) / (CAST(s AS DOUBLE) * s)) * 10000.0 + 0.5) / 10000.0 AS glcm_asm,
       FLOOR((CAST(ndis AS DOUBLE) / s) * 10000.0 + 0.5) / 10000.0 AS glcm_dis,
       FLOOR((CAST(nsumave AS DOUBLE) / s) * 10000.0 + 0.5) / 10000.0 AS glcm_sumaverage,
       FLOOR((CAST(nacor AS DOUBLE) / s) * 10000.0 + 0.5) / 10000.0 AS glcm_acor,
       FLOOR((CAST(njave AS DOUBLE) / s) * 10000.0 + 0.5) / 10000.0 AS glcm_jave,
       FLOOR((CAST(cmax AS DOUBLE) / s) * 10000.0 + 0.5) / 10000.0 AS glcm_jmax,
       FLOOR((fo.hom1_s) * 10000.0 + 0.5) / 10000.0 AS glcm_hom1,
       FLOOR((fo.hom1_s) * 10000.0 + 0.5) / 10000.0 AS glcm_id,
       FLOOR((fo.idm_s) * 10000.0 + 0.5) / 10000.0 AS glcm_idm,
       FLOOR((fo.idm_s) * 10000.0 + 0.5) / 10000.0 AS glcm_hom2,
       FLOOR((fo.idn_s) * 10000.0 + 0.5) / 10000.0 AS glcm_idn,
       FLOOR((fo.idmn_s) * 10000.0 + 0.5) / 10000.0 AS glcm_idmn,
       FLOOR((fo.iv_s) * 10000.0 + 0.5) / 10000.0 AS glcm_iv,
       FLOOR((fo.jvar_s) * 10000.0 + 0.5) / 10000.0 AS glcm_jvar,
       FLOOR((fo.sumvar_s) * 10000.0 + 0.5) / 10000.0 AS glcm_sumvar,
       FLOOR((fo.difvar_s) * 10000.0 + 0.5) / 10000.0 AS glcm_difvar,
       FLOOR((CAST(ndis AS DOUBLE) / s) * 10000.0 + 0.5) / 10000.0 AS glcm_difave,
       FLOOR((CAST(nasm AS DOUBLE) / (CAST(s AS DOUBLE) * s)) * 10000.0 + 0.5) / 10000.0 AS glcm_energy,
       FLOOR((fo2.var_s) * 10000.0 + 0.5) / 10000.0 AS glcm_variance,
       FLOOR((fo2.clut_s) * 10000.0 + 0.5) / 10000.0 AS glcm_clutend,
       FLOOR((fo2.clus_s) * 10000.0 + 0.5) / 10000.0 AS glcm_clushade,
       FLOOR((fo2.clup_s) * 10000.0 + 0.5) / 10000.0 AS glcm_cluprom,
       FLOOR(((CAST(nacor AS DOUBLE) / s - mx.v * my.v) / (sx.v * sy.v))
             * 10000.0 + 0.5) / 10000.0 AS glcm_correlation
FROM sums JOIN folds fo USING (doc_id) JOIN folds2 fo2 USING (doc_id)
JOIN mux mx USING (doc_id) JOIN muy my USING (doc_id)
JOIN sigx sx USING (doc_id) JOIN sigy sy USING (doc_id)
"""


def sql_glcm_sym(n_levels: int = 64) -> str:
    """GLCM under RADIOMICS binning (texture_feature.h:106-118: 1-based bins,
    binW = range/n, raw 0 → background 0) with SYMMETRIC accumulation
    (glcm.cpp:475-477: every pair counted in both directions). Integer
    numerators + single divisions as in sql_glcm."""
    return f"""
WITH {SQL_TOKENS_STATIC},
flat AS (
  SELECT doc_id, n_tok, unnest(tokens) AS t, unnest(range(1, n_tok + 1)) AS i
  FROM tokens_static
),
stats AS (SELECT doc_id, min(t) AS mn, max(t) AS mx FROM flat GROUP BY doc_id),
binned AS (
  SELECT f.doc_id, f.i, f.t AS rawt,
         CASE WHEN f.t = 0 THEN 0
              ELSE LEAST(CAST(FLOOR(CAST(f.t - s.mn AS DOUBLE)
                                    / ((s.mx - s.mn) / {n_levels}.0)) AS INTEGER) + 1,
                         {n_levels})
         END AS g
  FROM flat f JOIN stats s USING (doc_id) WHERE s.mx > s.mn
),
fwd AS (
  SELECT doc_id, g AS a, lead(g) OVER w AS b,
         rawt, lead(rawt) OVER w AS rawt2
  FROM binned WINDOW w AS (PARTITION BY doc_id ORDER BY i)
),
valid AS (
  SELECT doc_id, a, b FROM fwd
  WHERE b IS NOT NULL AND rawt <> 0 AND rawt2 <> 0 AND a > 0 AND b > 0
),
sym AS (
  SELECT doc_id, a, b FROM valid
  UNION ALL
  SELECT doc_id, b AS a, a AS b FROM valid
),
cellcnt AS (SELECT doc_id, a, b, CAST(COUNT(*) AS BIGINT) AS c FROM sym GROUP BY 1, 2, 3),
sums AS (
  SELECT doc_id,
         CAST(SUM(c) AS BIGINT) AS s,
         CAST(SUM(c * (a - b) * (a - b)) AS BIGINT) AS ncontrast,
         CAST(SUM(c * c) AS BIGINT) AS nasm,
         CAST(SUM(c * abs(a - b)) AS BIGINT) AS ndis,
         CAST(SUM(c * (a + b)) AS BIGINT) AS nsumave,
         CAST(SUM(c * a * b) AS BIGINT) AS nacor,
         CAST(SUM(c * a) AS BIGINT) AS njave
  FROM cellcnt GROUP BY doc_id
)
SELECT doc_id,
       FLOOR((CAST(ncontrast AS DOUBLE) / s) * 10000.0 + 0.5) / 10000.0 AS glcm_contrast,
       FLOOR((CAST(nasm AS DOUBLE) / (CAST(s AS DOUBLE) * s)) * 10000.0 + 0.5) / 10000.0 AS glcm_asm,
       FLOOR((CAST(ndis AS DOUBLE) / s) * 10000.0 + 0.5) / 10000.0 AS glcm_dis,
       FLOOR((CAST(nsumave AS DOUBLE) / s) * 10000.0 + 0.5) / 10000.0 AS glcm_sumaverage,
       FLOOR((CAST(nacor AS DOUBLE) / s) * 10000.0 + 0.5) / 10000.0 AS glcm_acor,
       FLOOR((CAST(njave AS DOUBLE) / s) * 10000.0 + 0.5) / 10000.0 AS glcm_jave
FROM sums
"""


def sql_glcm_ibsi(vocab_mod: int = 32) -> str:
    """GLCM oracle under IBSI identity binning over the deterministic
    small-vocab derivation t % vocab_mod + 1 (grey level = token value;
    symmetric accumulation — grey_info ≤ 0 implies symmetric, glcm.cpp:475)."""
    return f"""
WITH {SQL_TOKENS_STATIC},
small AS (
  SELECT doc_id, n_tok,
         list_transform(tokens, x -> x % {vocab_mod} + 1) AS tokens
  FROM tokens_static
),
flat AS (
  SELECT doc_id, n_tok, unnest(tokens) AS t, unnest(range(1, n_tok + 1)) AS i
  FROM small
),
stats AS (SELECT doc_id, min(t) AS mn, max(t) AS mx FROM flat GROUP BY doc_id),
binned AS (
  SELECT f.doc_id, f.i, f.t AS g
  FROM flat f JOIN stats s USING (doc_id) WHERE s.mx > s.mn
),
fwd AS (
  SELECT doc_id, g AS a, lead(g) OVER w AS b
  FROM binned WINDOW w AS (PARTITION BY doc_id ORDER BY i)
),
valid AS (SELECT doc_id, a, b FROM fwd WHERE b IS NOT NULL),
sym AS (
  SELECT doc_id, a, b FROM valid
  UNION ALL
  SELECT doc_id, b AS a, a AS b FROM valid
),
cellcnt AS (SELECT doc_id, a, b, CAST(COUNT(*) AS BIGINT) AS c FROM sym GROUP BY 1, 2, 3),
sums AS (
  SELECT doc_id,
         CAST(SUM(c) AS BIGINT) AS s,
         CAST(SUM(c * (a - b) * (a - b)) AS BIGINT) AS ncontrast,
         CAST(SUM(c * c) AS BIGINT) AS nasm,
         CAST(SUM(c * abs(a - b)) AS BIGINT) AS ndis,
         CAST(SUM(c * (a + b)) AS BIGINT) AS nsumave,
         CAST(SUM(c * a * b) AS BIGINT) AS nacor,
         CAST(SUM(c * a) AS BIGINT) AS njave
  FROM cellcnt GROUP BY doc_id
)
SELECT doc_id,
       FLOOR((CAST(ncontrast AS DOUBLE) / s) * 10000.0 + 0.5) / 10000.0 AS glcm_contrast,
       FLOOR((CAST(nasm AS DOUBLE) / (CAST(s AS DOUBLE) * s)) * 10000.0 + 0.5) / 10000.0 AS glcm_asm,
       FLOOR((CAST(ndis AS DOUBLE) / s) * 10000.0 + 0.5) / 10000.0 AS glcm_dis,
       FLOOR((CAST(nsumave AS DOUBLE) / s) * 10000.0 + 0.5) / 10000.0 AS glcm_sumaverage,
       FLOOR((CAST(nacor AS DOUBLE) / s) * 10000.0 + 0.5) / 10000.0 AS glcm_acor,
       FLOOR((CAST(njave AS DOUBLE) / s) * 10000.0 + 0.5) / 10000.0 AS glcm_jave
FROM sums
"""


def sql_glcm_ave(n_levels: int = 64, offsets: tuple[int, ...] = (1, 2, 4)) -> str:
    """Multi-offset GLCM oracle: one CTE stack of pair sums per offset d
    (lead(g, d) within the doc), per-offset values as single divisions, _AVE
    replayed in the kernel's exact accumulation order ((v1+v2)+v4)/3."""
    sums_ctes = []
    for d in offsets:
        sums_ctes.append(f"""
pairs_{d} AS (
  SELECT doc_id, g AS a, lead(g, {d}) OVER w AS b,
         rawt, lead(rawt, {d}) OVER w AS rawt2
  FROM binned WINDOW w AS (PARTITION BY doc_id ORDER BY i)
),
cell_{d} AS (
  SELECT doc_id, a, b, CAST(COUNT(*) AS BIGINT) AS c
  FROM pairs_{d} WHERE b IS NOT NULL AND rawt <> 0 AND rawt2 <> 0
  GROUP BY 1, 2, 3
),
sums_{d} AS (
  SELECT doc_id,
         CAST(SUM(c) AS BIGINT) AS s,
         CAST(SUM(c * (a - b) * (a - b)) AS BIGINT) AS ncontrast,
         CAST(SUM(c * c) AS BIGINT) AS nasm,
         CAST(SUM(c * abs(a - b)) AS BIGINT) AS ndis,
         CAST(SUM(c * a * b) AS BIGINT) AS nacor,
         CAST(SUM(c * a) AS BIGINT) AS njave
  FROM cell_{d} GROUP BY doc_id
)""".strip())
    d1, d2, d3 = offsets

    def val(stat: str, d: int) -> str:
        num = {"contrast": "ncontrast", "dis": "ndis", "acor": "nacor",
               "jave": "njave"}[stat]
        return f"(CAST(s{d}.{num} AS DOUBLE) / s{d}.s)"

    def ave(stat: str) -> str:
        return f"(({val(stat, d1)} + {val(stat, d2)}) + {val(stat, d3)}) / {len(offsets)}"

    asm_terms = " + ".join(
        [f"(CAST(s{d1}.nasm AS DOUBLE) / (CAST(s{d1}.s AS DOUBLE) * s{d1}.s))",
         f"(CAST(s{d2}.nasm AS DOUBLE) / (CAST(s{d2}.s AS DOUBLE) * s{d2}.s))",
         f"(CAST(s{d3}.nasm AS DOUBLE) / (CAST(s{d3}.s AS DOUBLE) * s{d3}.s))"]
    )
    return f"""
WITH {SQL_TOKENS_STATIC},
flat AS (
  SELECT doc_id, n_tok, unnest(tokens) AS t, unnest(range(1, n_tok + 1)) AS i
  FROM tokens_static
),
stats AS (SELECT doc_id, min(t) AS mn, max(t) AS mx FROM flat GROUP BY doc_id),
binned AS (
  SELECT f.doc_id, f.i, f.t AS rawt,
         CASE WHEN f.t = 0 THEN 1
              ELSE LEAST(GREATEST(CAST(FLOOR(({n_levels}.0 / s.mx) * f.t + 1) AS INTEGER), 1), {n_levels})
         END AS g
  FROM flat f JOIN stats s USING (doc_id) WHERE s.mx > s.mn
),
{",".join(sums_ctes)}
SELECT s{d1}.doc_id,
       FLOOR(({val('contrast', d1)}) * 10000.0 + 0.5) / 10000.0 AS glcm_contrast_d1,
       FLOOR(({val('contrast', d2)}) * 10000.0 + 0.5) / 10000.0 AS glcm_contrast_d2,
       FLOOR(({val('contrast', d3)}) * 10000.0 + 0.5) / 10000.0 AS glcm_contrast_d4,
       FLOOR(({ave('contrast')}) * 10000.0 + 0.5) / 10000.0 AS glcm_contrast_ave,
       FLOOR(({ave('dis')}) * 10000.0 + 0.5) / 10000.0 AS glcm_dis_ave,
       FLOOR(({ave('acor')}) * 10000.0 + 0.5) / 10000.0 AS glcm_acor_ave,
       FLOOR(({ave('jave')}) * 10000.0 + 0.5) / 10000.0 AS glcm_jave_ave,
       FLOOR((({asm_terms}) / {len(offsets)}) * 10000.0 + 0.5) / 10000.0 AS glcm_asm_ave
FROM sums_{d1} s{d1}
JOIN sums_{d2} s{d2} ON s{d1}.doc_id = s{d2}.doc_id
JOIN sums_{d3} s{d3} ON s{d1}.doc_id = s{d3}.doc_id
"""


def sql_glrlm_ave(n_levels: int = 64, offsets: tuple[int, ...] = (1, 2, 4)) -> str:
    """Multi-offset GLRLM oracle: stride-d runs = gaps-and-islands within each
    (doc, phase = (i−1) % d) interleaved subsequence, one CTE stack per d."""
    stacks = []
    for d in offsets:
        stacks.append(f"""
flag_{d} AS (
  SELECT doc_id, i, g, n_tok, (i - 1) % {d} AS ph,
         CASE WHEN lag(g) OVER w IS NULL OR lag(g) OVER w <> g THEN 1 ELSE 0 END AS f
  FROM binned WINDOW w AS (PARTITION BY doc_id, (i - 1) % {d} ORDER BY i)
),
isl_{d} AS (
  SELECT doc_id, g, n_tok, ph,
         SUM(f) OVER (PARTITION BY doc_id, ph ORDER BY i
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_id
  FROM flag_{d}
),
runs_{d} AS (
  SELECT doc_id, g, CAST(COUNT(*) AS BIGINT) AS l, MAX(n_tok) AS n_tok
  FROM isl_{d} GROUP BY doc_id, ph, g, run_id
),
per_{d} AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS nr, MAX(n_tok) AS np,
         CAST(SUM(l * l) AS BIGINT) AS sll
  FROM runs_{d} GROUP BY doc_id
),
gln_{d} AS (
  SELECT doc_id, CAST(SUM(c * c) AS BIGINT) AS v
  FROM (SELECT doc_id, g, COUNT(*) AS c FROM runs_{d} GROUP BY doc_id, g)
  GROUP BY doc_id
)""".strip())
    d1, d2, d3 = offsets

    def lre(d):
        return f"(CAST(p{d}.sll AS DOUBLE) / p{d}.nr)"

    def gln(d):
        return f"(CAST(g{d}.v AS DOUBLE) / p{d}.nr)"

    def rp(d):
        return f"(CAST(p{d}.nr AS DOUBLE) / p{d}.np)"

    return f"""
WITH {SQL_TOKENS_STATIC},
flat AS (
  SELECT doc_id, n_tok, unnest(tokens) AS t, unnest(range(1, n_tok + 1)) AS i
  FROM tokens_static
),
stats AS (SELECT doc_id, min(t) AS mn, max(t) AS mx FROM flat GROUP BY doc_id),
binned AS (
  SELECT f.doc_id, f.i, f.n_tok,
         CASE WHEN f.t = 0 THEN 1
              ELSE LEAST(GREATEST(CAST(FLOOR(({n_levels}.0 / s.mx) * f.t + 1) AS INTEGER), 1), {n_levels})
         END AS g
  FROM flat f JOIN stats s USING (doc_id) WHERE s.mx > s.mn
),
{",".join(stacks)}
SELECT p{d1}.doc_id,
       FLOOR(({lre(d1)}) * 10000.0 + 0.5) / 10000.0 AS glrlm_lre_d1,
       FLOOR(({lre(d2)}) * 10000.0 + 0.5) / 10000.0 AS glrlm_lre_d2,
       FLOOR(({lre(d3)}) * 10000.0 + 0.5) / 10000.0 AS glrlm_lre_d4,
       FLOOR(((({lre(d1)} + {lre(d2)}) + {lre(d3)}) / {len(offsets)}) * 10000.0 + 0.5) / 10000.0 AS glrlm_lre_ave,
       FLOOR(({gln(d2)}) * 10000.0 + 0.5) / 10000.0 AS glrlm_gln_d2,
       FLOOR(((({gln(d1)} + {gln(d2)}) + {gln(d3)}) / {len(offsets)}) * 10000.0 + 0.5) / 10000.0 AS glrlm_gln_ave,
       FLOOR(((({rp(d1)} + {rp(d2)}) + {rp(d3)}) / {len(offsets)}) * 10000.0 + 0.5) / 10000.0 AS glrlm_rp_ave
FROM per_{d1} p{d1}
JOIN per_{d2} p{d2} ON p{d1}.doc_id = p{d2}.doc_id
JOIN per_{d3} p{d3} ON p{d1}.doc_id = p{d3}.doc_id
JOIN gln_{d1} g{d1} ON p{d1}.doc_id = g{d1}.doc_id
JOIN gln_{d2} g{d2} ON p{d1}.doc_id = g{d2}.doc_id
JOIN gln_{d3} g{d3} ON p{d1}.doc_id = g{d3}.doc_id
"""


def sql_moments() -> str:
    """Positional raw moments as exact integer sums; derived stats via the
    same single divisions the Spark query performs."""
    return f"""
WITH {SQL_TOKENS_STATIC},
flat AS (
  SELECT doc_id, unnest(tokens) AS t, unnest(range(0, n_tok)) AS i
  FROM tokens_static
),
m AS (
  SELECT doc_id,
         CAST(COUNT(*) AS BIGINT) AS nn,
         CAST(SUM(CAST(t AS BIGINT)) AS BIGINT) AS m0,
         CAST(SUM(CAST(t AS BIGINT) * i) AS BIGINT) AS m1,
         CAST(SUM(CAST(t AS BIGINT) * i * i) AS BIGINT) AS m2,
         CAST(SUM(CAST(t AS BIGINT) * i * i * i) AS BIGINT) AS m3,
         CAST(SUM(CAST(t AS BIGINT) * i * i * i * i) AS BIGINT) AS m4,
         CAST(COUNT(*) FILTER (t <> 0) AS BIGINT) AS s0,
         CAST(COALESCE(SUM(i) FILTER (t <> 0), 0) AS BIGINT) AS s1,
         CAST(COALESCE(SUM(i * i) FILTER (t <> 0), 0) AS BIGINT) AS s2,
         CAST(COALESCE(SUM(i * i * i) FILTER (t <> 0), 0) AS BIGINT) AS s3,
         CAST(COALESCE(SUM(i * i * i * i) FILTER (t <> 0), 0) AS BIGINT) AS s4
  FROM flat GROUP BY doc_id
),
-- exact HUGEINT numerators of the single-rational central/invariant forms
-- (mirrors the Spark query's DECIMAL arithmetic):
--   μ2 = A/m0, μ3 = C/m0², μ4 = B/m0³, η3 = C/m0^4.5, η4 = B/m0⁶,
--   HU1 = A/m0³, HU2 = C²/m0⁹, HU3 = (B − 3A²)/m0⁶
mx AS (
  SELECT doc_id, m0, m1, m2, m3, m4, s0, s1, s2, s3, s4,
         CAST(nn - 1 AS HUGEINT) AS q1,
         CAST(s0 AS HUGEINT) * s2 - CAST(s1 AS HUGEINT) * s1 AS sa,
         CAST(s0 AS HUGEINT) * s0 * s3 - 3 * (CAST(s0 AS HUGEINT) * s1 * s2)
           + 2 * (CAST(s1 AS HUGEINT) * s1 * s1) AS scnum,
         CAST(s0 AS HUGEINT) * s0 * s0 * s4
           - 4 * (CAST(s0 AS HUGEINT) * s0 * s1 * s3)
           + 6 * (CAST(s0 AS HUGEINT) * s1 * s1 * s2)
           - 3 * (CAST(s1 AS HUGEINT) * s1 * s1 * s1) AS sb,
         CAST(s0 AS DOUBLE) * s0 AS s02,
         (CAST(s0 AS DOUBLE) * s0) * s0 AS s03,
         CAST(m0 AS HUGEINT) * m2 - CAST(m1 AS HUGEINT) * m1 AS a,
         CAST(m0 AS HUGEINT) * m0 * m3 - 3 * (CAST(m0 AS HUGEINT) * m1 * m2)
           + 2 * (CAST(m1 AS HUGEINT) * m1 * m1) AS cnum,
         CAST(m0 AS HUGEINT) * m0 * m0 * m4
           - 4 * (CAST(m0 AS HUGEINT) * m0 * m1 * m3)
           + 6 * (CAST(m0 AS HUGEINT) * m1 * m1 * m2)
           - 3 * (CAST(m1 AS HUGEINT) * m1 * m1 * m1) AS b,
         CAST(m0 AS DOUBLE) * m0 AS m02,
         (CAST(m0 AS DOUBLE) * m0) * m0 AS m03
  FROM m
)
SELECT doc_id, m0, m1, m2, m3, m4,
       FLOOR((CAST(m1 AS DOUBLE) / m0) * 10000.0 + 0.5) / 10000.0 AS centroid,
       FLOOR((CAST(m0 * m2 - m1 * m1 AS DOUBLE) / (CAST(m0 AS DOUBLE) * m0 * m0)) * 10000.0 + 0.5) / 10000.0 AS norm_central2,
       FLOOR((CAST(a AS DOUBLE) / m0) * 10000.0 + 0.5) / 10000.0 AS central2,
       FLOOR((CAST(cnum AS DOUBLE) / m02) * 10000.0 + 0.5) / 10000.0 AS central3,
       FLOOR((CAST(b AS DOUBLE) / m03) * 10000.0 + 0.5) / 10000.0 AS central4,
       FLOOR((CAST(cnum AS DOUBLE) / ((m02 * m02) * SQRT(CAST(m0 AS DOUBLE)))) * 10000.0 + 0.5) / 10000.0 AS norm_central3,
       FLOOR((CAST(b AS DOUBLE) / (m03 * m03)) * 10000.0 + 0.5) / 10000.0 AS norm_central4,
       FLOOR((CAST(m1 AS DOUBLE) / (CAST(m0 AS DOUBLE) * SQRT(CAST(m0 AS DOUBLE)))) * 10000.0 + 0.5) / 10000.0 AS norm_raw_1,
       FLOOR((CAST(m2 AS DOUBLE) / m02) * 10000.0 + 0.5) / 10000.0 AS norm_raw_2,
       FLOOR((CAST(m3 AS DOUBLE) / (m02 * SQRT(CAST(m0 AS DOUBLE)))) * 10000.0 + 0.5) / 10000.0 AS norm_raw_3,
       FLOOR((CAST(m4 AS DOUBLE) / m03) * 10000.0 + 0.5) / 10000.0 AS norm_raw_4,
       FLOOR((CAST(a AS DOUBLE) / m03) * 10000.0 + 0.5) / 10000.0 AS hu1,
       FLOOR((CAST(cnum * cnum AS DOUBLE) / ((m03 * m03) * m03)) * 10000.0 + 0.5) / 10000.0 AS hu2,
       FLOOR((CAST(b - 3 * (a * a) AS DOUBLE) / (m03 * m03)) * 10000.0 + 0.5) / 10000.0 AS hu3,
       CASE WHEN CAST(a AS DOUBLE) > 0 THEN
         FLOOR((CAST(b AS DOUBLE) / ((CAST(a AS DOUBLE) * CAST(a AS DOUBLE)) * CAST(m0 AS DOUBLE))) * 10000.0 + 0.5) / 10000.0
       END AS hu4,
       CASE WHEN CAST(a AS DOUBLE) > 0 THEN
         FLOOR((CAST(cnum * cnum AS DOUBLE) / ((CAST(a AS DOUBLE) * CAST(a AS DOUBLE)) * CAST(a AS DOUBLE))) * 10000.0 + 0.5) / 10000.0
       END AS hu5,
       FLOOR(((CAST(a AS DOUBLE) / m03) * (CAST(b AS DOUBLE) / (m03 * m03))
              - CAST(cnum * cnum AS DOUBLE) / ((m03 * m03) * m03)) * 10000.0 + 0.5) / 10000.0 AS hu6,
       s0, s1, s2, s3,
       FLOOR((CAST(s1 AS DOUBLE) / s0) * 10000.0 + 0.5) / 10000.0 AS shape_centroid,
       FLOOR((CAST(s1 AS DOUBLE) / (CAST(s0 AS DOUBLE) * SQRT(CAST(s0 AS DOUBLE)))) * 10000.0 + 0.5) / 10000.0 AS shape_norm_raw_1,
       FLOOR((CAST(s2 AS DOUBLE) / s02) * 10000.0 + 0.5) / 10000.0 AS shape_norm_raw_2,
       FLOOR((CAST(s3 AS DOUBLE) / (s02 * SQRT(CAST(s0 AS DOUBLE)))) * 10000.0 + 0.5) / 10000.0 AS shape_norm_raw_3,
       FLOOR((CAST(s4 AS DOUBLE) / s03) * 10000.0 + 0.5) / 10000.0 AS shape_norm_raw_4,
       FLOOR((CAST(s0 * s2 - s1 * s1 AS DOUBLE) / (CAST(s0 AS DOUBLE) * s0 * s0)) * 10000.0 + 0.5) / 10000.0 AS shape_norm_central2,
       FLOOR((CAST(sa AS DOUBLE) / s0) * 10000.0 + 0.5) / 10000.0 AS shape_central2,
       FLOOR((CAST(scnum AS DOUBLE) / s02) * 10000.0 + 0.5) / 10000.0 AS shape_central3,
       FLOOR((CAST(sb AS DOUBLE) / s03) * 10000.0 + 0.5) / 10000.0 AS shape_central4,
       FLOOR((CAST(sa AS DOUBLE) / s03) * 10000.0 + 0.5) / 10000.0 AS shape_hu1,
       FLOOR((CAST(scnum * scnum AS DOUBLE) / ((s03 * s03) * s03)) * 10000.0 + 0.5) / 10000.0 AS shape_hu2,
       FLOOR((CAST(sb - 3 * (sa * sa) AS DOUBLE) / (s03 * s03)) * 10000.0 + 0.5) / 10000.0 AS shape_hu3,
       CASE WHEN CAST(sa AS DOUBLE) > 0 THEN
         FLOOR((CAST(sb AS DOUBLE) / ((CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE)) * CAST(s0 AS DOUBLE))) * 10000.0 + 0.5) / 10000.0
       END AS shape_hu4,
       CASE WHEN CAST(sa AS DOUBLE) > 0 THEN
         FLOOR((CAST(scnum * scnum AS DOUBLE) / ((CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE)) * CAST(sa AS DOUBLE))) * 10000.0 + 0.5) / 10000.0
       END AS shape_hu5,
       -- midpoint-central family: 2^p-scaled numerators are exact HUGEINTs
       -- (binomial in the raw moments about h = (nn−1)/2); /2^p is exact
       FLOOR((CAST(2 * CAST(m1 AS HUGEINT) - q1 * m0 AS DOUBLE) / 2.0)
             * 10000.0 + 0.5) / 10000.0 AS mid1,
       FLOOR((CAST(4 * CAST(m2 AS HUGEINT) - 4 * (q1 * m1) + (q1 * q1) * m0 AS DOUBLE)
              / 4.0) * 10000.0 + 0.5) / 10000.0 AS mid2,
       FLOOR((CAST(8 * CAST(m3 AS HUGEINT) - 12 * (q1 * m2) + 6 * ((q1 * q1) * m1)
                   - ((q1 * q1) * q1) * m0 AS DOUBLE)
              / 8.0) * 10000.0 + 0.5) / 10000.0 AS mid3,
       FLOOR((CAST(16 * CAST(m4 AS HUGEINT) - 32 * (q1 * m3) + 24 * ((q1 * q1) * m2)
                   - 8 * (((q1 * q1) * q1) * m1)
                   + ((q1 * q1) * (q1 * q1)) * m0 AS DOUBLE)
              / 16.0) * 10000.0 + 0.5) / 10000.0 AS mid4,
       FLOOR((CAST(4 * CAST(s2 AS HUGEINT) - 4 * (q1 * s1) + (q1 * q1) * s0 AS DOUBLE)
              / 4.0) * 10000.0 + 0.5) / 10000.0 AS shape_mid2,
       FLOOR((CAST(8 * CAST(s3 AS HUGEINT) - 12 * (q1 * s2) + 6 * ((q1 * q1) * s1)
                   - ((q1 * q1) * q1) * s0 AS DOUBLE)
              / 8.0) * 10000.0 + 0.5) / 10000.0 AS shape_mid3,
       FLOOR((CAST(16 * CAST(s4 AS HUGEINT) - 32 * (q1 * s3) + 24 * ((q1 * q1) * s2)
                   - 8 * (((q1 * q1) * q1) * s1)
                   + ((q1 * q1) * (q1 * q1)) * s0 AS DOUBLE)
              / 16.0) * 10000.0 + 0.5) / 10000.0 AS shape_mid4,
       -- shifted-Legendre orthogonal moments: h^k-scaled numerators are
       -- exact HUGEINT combos of the raw moments; denominator replays the
       -- Spark (m0·h)·h·… double chain; h = 0 -> NULL on both engines
       CASE WHEN q1 > 0 THEN
         FLOOR((CAST(2 * CAST(m1 AS HUGEINT) - q1 * m0 AS DOUBLE)
                / (CAST(m0 AS DOUBLE) * CAST(q1 AS DOUBLE)))
               * 10000.0 + 0.5) / 10000.0 END AS leg1,
       CASE WHEN q1 > 0 THEN
         FLOOR((CAST(6 * CAST(m2 AS HUGEINT) - 6 * (q1 * m1) + (q1 * q1) * m0 AS DOUBLE)
                / ((CAST(m0 AS DOUBLE) * CAST(q1 AS DOUBLE)) * CAST(q1 AS DOUBLE)))
               * 10000.0 + 0.5) / 10000.0 END AS leg2,
       CASE WHEN q1 > 0 THEN
         FLOOR((CAST(20 * CAST(m3 AS HUGEINT) - 30 * (q1 * m2) + 12 * ((q1 * q1) * m1)
                     - ((q1 * q1) * q1) * m0 AS DOUBLE)
                / (((CAST(m0 AS DOUBLE) * CAST(q1 AS DOUBLE)) * CAST(q1 AS DOUBLE))
                   * CAST(q1 AS DOUBLE)))
               * 10000.0 + 0.5) / 10000.0 END AS leg3,
       CASE WHEN q1 > 0 THEN
         FLOOR((CAST(70 * CAST(m4 AS HUGEINT) - 140 * (q1 * m3) + 90 * ((q1 * q1) * m2)
                     - 20 * (((q1 * q1) * q1) * m1)
                     + ((q1 * q1) * (q1 * q1)) * m0 AS DOUBLE)
                / ((((CAST(m0 AS DOUBLE) * CAST(q1 AS DOUBLE)) * CAST(q1 AS DOUBLE))
                    * CAST(q1 AS DOUBLE)) * CAST(q1 AS DOUBLE)))
               * 10000.0 + 0.5) / 10000.0 END AS leg4,
       CASE WHEN q1 > 0 THEN
         FLOOR((CAST(6 * CAST(s2 AS HUGEINT) - 6 * (q1 * s1) + (q1 * q1) * s0 AS DOUBLE)
                / ((CAST(s0 AS DOUBLE) * CAST(q1 AS DOUBLE)) * CAST(q1 AS DOUBLE)))
               * 10000.0 + 0.5) / 10000.0 END AS shape_leg2,
       CASE WHEN q1 > 0 THEN
         FLOOR((CAST(20 * CAST(s3 AS HUGEINT) - 30 * (q1 * s2) + 12 * ((q1 * q1) * s1)
                     - ((q1 * q1) * q1) * s0 AS DOUBLE)
                / (((CAST(s0 AS DOUBLE) * CAST(q1 AS DOUBLE)) * CAST(q1 AS DOUBLE))
                   * CAST(q1 AS DOUBLE)))
               * 10000.0 + 0.5) / 10000.0 END AS shape_leg3,
       CASE WHEN q1 > 0 THEN
         FLOOR((CAST(70 * CAST(s4 AS HUGEINT) - 140 * (q1 * s3) + 90 * ((q1 * q1) * s2)
                     - 20 * (((q1 * q1) * q1) * s1)
                     + ((q1 * q1) * (q1 * q1)) * s0 AS DOUBLE)
                / ((((CAST(s0 AS DOUBLE) * CAST(q1 AS DOUBLE)) * CAST(q1 AS DOUBLE))
                    * CAST(q1 AS DOUBLE)) * CAST(q1 AS DOUBLE)))
               * 10000.0 + 0.5) / 10000.0 END AS shape_leg4,
       -- positional OLS trend: slope = 6·(2n·m1 − n·h·m0)/(n²(n²−1)) (exact
       -- HUGEINT numerator, closed-form denominator); intercept replays the
       -- mean(t) − slope·h/2 IEEE chain; n = 1 -> NULL
       CASE WHEN q1 > 0 THEN
         FLOOR((CAST(6 * (2 * ((q1 + 1) * m1) - ((q1 + 1) * q1) * m0) AS DOUBLE)
                / ((CAST(q1 + 1 AS DOUBLE) * CAST(q1 + 1 AS DOUBLE))
                   * ((CAST(q1 + 1 AS DOUBLE) * CAST(q1 + 1 AS DOUBLE)) - 1.0)))
               * 10000.0 + 0.5) / 10000.0 END AS trend_slope,
       CASE WHEN q1 > 0 THEN
         FLOOR((CAST(m0 AS DOUBLE) / CAST(q1 + 1 AS DOUBLE)
                - (CAST(6 * (2 * ((q1 + 1) * m1) - ((q1 + 1) * q1) * m0) AS DOUBLE)
                   / ((CAST(q1 + 1 AS DOUBLE) * CAST(q1 + 1 AS DOUBLE))
                      * ((CAST(q1 + 1 AS DOUBLE) * CAST(q1 + 1 AS DOUBLE)) - 1.0)))
                  * (CAST(q1 AS DOUBLE) / 2.0))
               * 10000.0 + 0.5) / 10000.0 END AS trend_icept
FROM mx WHERE m0 > 0 AND s0 > 0
"""


def sql_gldm(n_levels: int = 64) -> str:
    """Dependence sizes via lag/lead equality (offset 1, matlab binning)."""
    return f"""
WITH {SQL_TOKENS_STATIC},
flat AS (
  SELECT doc_id, n_tok, unnest(tokens) AS t, unnest(range(1, n_tok + 1)) AS i
  FROM tokens_static
),
stats AS (SELECT doc_id, min(t) AS mn, max(t) AS mx FROM flat GROUP BY doc_id),
binned AS (
  SELECT f.doc_id, f.i,
         CASE WHEN f.t = 0 THEN 1
              ELSE LEAST(GREATEST(CAST(FLOOR(({n_levels}.0 / s.mx) * f.t + 1) AS INTEGER), 1), {n_levels})
         END AS g
  FROM flat f JOIN stats s USING (doc_id) WHERE s.mx > s.mn
),
deps AS (
  SELECT doc_id, i, g,
         1 + CASE WHEN lag(g) OVER w = g THEN 1 ELSE 0 END
           + CASE WHEN lead(g) OVER w = g THEN 1 ELSE 0 END AS j
  FROM binned WINDOW w AS (PARTITION BY doc_id ORDER BY i)
),
per AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS nz,
         CAST(SUM(j * j) AS BIGINT) AS sjj,
         CAST(SUM(j) AS BIGINT) AS sj,
         CAST(SUM(g) AS BIGINT) AS sg,
         CAST(SUM(g * g) AS BIGINT) AS sgg,
         CAST(SUM(g * g * j * j) AS BIGINT) AS sggjj
  FROM deps GROUP BY doc_id
),
folds AS (
  -- inverse-weighted and centered-square sums replay the kernel's
  -- np.bincount sequential fold in token-position order; the GLV/DV terms
  -- are (x − Σx/N)² with the exact-rational mean, squared as t·t
  SELECT d.doc_id,
         list_reduce(list(1.0 / CAST(d.j * d.j AS DOUBLE) ORDER BY d.i),
                     (a, b) -> a + b) AS sde_s,
         list_reduce(list(1.0 / CAST(d.g * d.g AS DOUBLE) ORDER BY d.i),
                     (a, b) -> a + b) AS lgle_s,
         list_reduce(list(1.0 / (CAST(d.g * d.g AS DOUBLE) * CAST(d.j * d.j AS DOUBLE))
                          ORDER BY d.i), (a, b) -> a + b) AS sdlgle_s,
         list_reduce(list(CAST(d.g * d.g AS DOUBLE) / CAST(d.j * d.j AS DOUBLE)
                          ORDER BY d.i), (a, b) -> a + b) AS sdhgle_s,
         list_reduce(list(CAST(d.j * d.j AS DOUBLE) / CAST(d.g * d.g AS DOUBLE)
                          ORDER BY d.i), (a, b) -> a + b) AS ldlgle_s,
         list_reduce(list(
             (CAST(d.g AS DOUBLE) - CAST(p.sg AS DOUBLE) / p.nz)
             * (CAST(d.g AS DOUBLE) - CAST(p.sg AS DOUBLE) / p.nz)
             ORDER BY d.i), (a, b) -> a + b) AS glv_s,
         list_reduce(list(
             (CAST(d.j AS DOUBLE) - CAST(p.sj AS DOUBLE) / p.nz)
             * (CAST(d.j AS DOUBLE) - CAST(p.sj AS DOUBLE) / p.nz)
             ORDER BY d.i), (a, b) -> a + b) AS dv_s
  FROM deps d JOIN per p USING (doc_id)
  GROUP BY d.doc_id
),
gln AS (
  SELECT doc_id, CAST(SUM(c * c) AS BIGINT) AS v
  FROM (SELECT doc_id, g, COUNT(*) AS c FROM deps GROUP BY doc_id, g) GROUP BY doc_id
),
dn AS (
  SELECT doc_id, CAST(SUM(c * c) AS BIGINT) AS v
  FROM (SELECT doc_id, j, COUNT(*) AS c FROM deps GROUP BY doc_id, j) GROUP BY doc_id
),
dcene AS (  -- Σ cell² over distinct (g, j) cells
  SELECT doc_id, CAST(SUM(c * c) AS BIGINT) AS v
  FROM (SELECT doc_id, g, j, COUNT(*) AS c FROM deps GROUP BY doc_id, g, j)
  GROUP BY doc_id
)
SELECT p.doc_id,
       FLOOR((CAST(p.sjj AS DOUBLE) / p.nz) * 10000.0 + 0.5) / 10000.0 AS gldm_lde,
       FLOOR((CAST(gln.v AS DOUBLE) / p.nz) * 10000.0 + 0.5) / 10000.0 AS gldm_gln,
       FLOOR((CAST(dn.v AS DOUBLE) / p.nz) * 10000.0 + 0.5) / 10000.0 AS gldm_dn,
       FLOOR((CAST(p.sj AS DOUBLE) / p.nz) * 10000.0 + 0.5) / 10000.0 AS ngldm_dcm,
       FLOOR((CAST(p.sg AS DOUBLE) / p.nz) * 10000.0 + 0.5) / 10000.0 AS ngldm_glm,
       FLOOR((CAST(p.sgg AS DOUBLE) / p.nz) * 10000.0 + 0.5) / 10000.0 AS gldm_hgle,
       FLOOR(((CAST(dn.v AS DOUBLE) / p.nz) / p.nz) * 10000.0 + 0.5) / 10000.0 AS gldm_dnn,
       FLOOR((CAST(dcene.v AS DOUBLE) / (CAST(p.nz AS DOUBLE) * p.nz)) * 10000.0 + 0.5) / 10000.0 AS ngldm_dcene,
       FLOOR((fo.sde_s / p.nz) * 10000.0 + 0.5) / 10000.0 AS gldm_sde,
       FLOOR((fo.lgle_s / p.nz) * 10000.0 + 0.5) / 10000.0 AS gldm_lgle,
       FLOOR((fo.sdlgle_s / p.nz) * 10000.0 + 0.5) / 10000.0 AS gldm_sdlgle,
       FLOOR((fo.sdhgle_s / p.nz) * 10000.0 + 0.5) / 10000.0 AS gldm_sdhgle,
       FLOOR((fo.ldlgle_s / p.nz) * 10000.0 + 0.5) / 10000.0 AS gldm_ldlgle,
       FLOOR((CAST(p.sggjj AS DOUBLE) / p.nz) * 10000.0 + 0.5) / 10000.0 AS gldm_ldhgle,
       FLOOR((fo.glv_s / p.nz) * 10000.0 + 0.5) / 10000.0 AS gldm_glv,
       FLOOR((fo.dv_s / p.nz) * 10000.0 + 0.5) / 10000.0 AS gldm_dv,
       FLOOR(((CAST(gln.v AS DOUBLE) / p.nz) / p.nz) * 10000.0 + 0.5) / 10000.0 AS ngldm_glnun
FROM per p JOIN gln USING (doc_id) JOIN dn USING (doc_id) JOIN dcene USING (doc_id)
JOIN folds fo USING (doc_id)
"""


def sql_percentiles() -> str:
    """Interpolated percentiles over the nyxus 100-bin histogram
    (histogram.h:298-327), replayed with the kernel's IEEE op order
    (firstorder.py _percentiles_100bin):

    * binw = (mx−mn)/100;  bin = trunc((v−mn)/binw), clipped, bin 100 folded;
    * istar = first dense bin whose running sum exceeds n·q (≡ count of the
      first 99 dense bins with runSum ≤ n·q) — on the sparse present-bin
      rows this is MIN(b) with cum > n·q (capped at 99);
    * pX = (((n·q − runSum_{istar−1}) · binw / count_istar) + mn) + binw·istar
      with count 0 → divide by 1 (kernel's np.where guard).

    IQR and QCOD are derived from the matched P25/P75 with the same two-step
    float ops as the kernel.
    """
    pcts = {"p01": "0.01", "p10": "0.1", "p25": "0.25", "p75": "0.75",
            "p90": "0.9", "p99": "0.99"}
    stacks, vals = [], []
    for nm, q in pcts.items():
        stacks.append(f"""
i_{nm} AS (
  SELECT c.doc_id,
         LEAST(COALESCE(MIN(c.b) FILTER (CAST(c.cum AS DOUBLE) > b.n * {q}), 99), 99) AS istar
  FROM cums100 c JOIN bw100 b USING (doc_id)
  GROUP BY c.doc_id
),
v_{nm} AS (
  SELECT p.doc_id,
         ((((b.n * {q}
             - CAST(COALESCE((SELECT MAX(c2.cum) FROM cums100 c2
                              WHERE c2.doc_id = p.doc_id AND c2.b < p.istar), 0) AS DOUBLE))
            * b.w)
           / (CASE WHEN COALESCE(f.c, 0) > 0 THEN CAST(f.c AS DOUBLE) ELSE 1.0 END))
          + b.mn) + (b.w * p.istar) AS v
  FROM i_{nm} p
  JOIN bw100 b USING (doc_id)
  LEFT JOIN cums100 f ON f.doc_id = p.doc_id AND f.b = p.istar
)""".strip())
        vals.append(f"FLOOR((v_{nm}.v) * 10000.0 + 0.5) / 10000.0 AS {nm}")
    joins = "\n".join(f"JOIN v_{nm} ON v_{nm}.doc_id = b.doc_id" for nm in pcts)
    return f"""
WITH {SQL_TOKENS_STATIC},
flat AS (
  SELECT doc_id, unnest(tokens) AS t FROM tokens_static
),
stats AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(min(t) AS DOUBLE) AS mn, CAST(max(t) AS DOUBLE) AS mx
  FROM flat GROUP BY doc_id HAVING max(t) > min(t)
),
bw100 AS (SELECT doc_id, n, mn, mx, (mx - mn) / 100.0 AS w FROM stats),
binned100 AS (
  SELECT f.doc_id,
         LEAST(CAST(FLOOR(CAST(f.t - b.mn AS DOUBLE) / b.w) AS INTEGER), 99) AS b
  FROM flat f JOIN bw100 b USING (doc_id)
),
freq100 AS (
  SELECT doc_id, b, CAST(COUNT(*) AS BIGINT) AS c FROM binned100 GROUP BY doc_id, b
),
cums100 AS (
  SELECT doc_id, b, c,
         SUM(c) OVER (PARTITION BY doc_id ORDER BY b
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM freq100
),
{",".join(stacks)},
rmean AS (  -- robust band [P10, P90] (histogram.h:86-108): exact int sum
  SELECT t.doc_id,
         CAST(list_sum(list_filter(t.tokens,
           x -> CAST(x AS DOUBLE) >= p1.v AND CAST(x AS DOUBLE) <= p9.v)) AS BIGINT) AS sb,
         len(list_filter(t.tokens,
           x -> CAST(x AS DOUBLE) >= p1.v AND CAST(x AS DOUBLE) <= p9.v)) AS cb
  FROM tokens_static t
  JOIN v_p10 p1 ON p1.doc_id = t.doc_id
  JOIN v_p90 p9 ON p9.doc_id = t.doc_id
),
rmad AS (  -- fold of |x − robust_mean| over the band in position order
  SELECT t.doc_id,
         list_reduce(list_transform(list_filter(t.tokens,
             x -> CAST(x AS DOUBLE) >= p1.v AND CAST(x AS DOUBLE) <= p9.v),
           x -> ABS(CAST(x AS DOUBLE) - CAST(r.sb AS DOUBLE) / r.cb)),
           (a, b) -> a + b) AS s
  FROM tokens_static t
  JOIN v_p10 p1 ON p1.doc_id = t.doc_id
  JOIN v_p90 p9 ON p9.doc_id = t.doc_id
  JOIN rmean r ON r.doc_id = t.doc_id
  WHERE r.cb > 0
)
SELECT b.doc_id,
       {", ".join(vals)},
       FLOOR((v_p75.v - v_p25.v) * 10000.0 + 0.5) / 10000.0 AS iqr,
       FLOOR(((v_p75.v - v_p25.v) / (v_p75.v + v_p25.v)) * 10000.0 + 0.5) / 10000.0 AS qcod,
       FLOOR((CASE WHEN r.cb > 0 THEN CAST(r.sb AS DOUBLE) / r.cb ELSE 0.0 END)
             * 10000.0 + 0.5) / 10000.0 AS robust_mean,
       FLOOR((CASE WHEN r.cb > 0 THEN ra.s / r.cb ELSE 0.0 END)
             * 10000.0 + 0.5) / 10000.0 AS robust_mad
FROM bw100 b
{joins}
JOIN rmean r ON r.doc_id = b.doc_id
LEFT JOIN rmad ra ON ra.doc_id = b.doc_id
"""


def sql_histo_bins(n_bins: int = 64) -> str:
    """Per-bin custom-histogram counts: bin = trunc((v−min)/range·N) with
    last-bin fold — exact integers, pivoted to one column per bin."""
    cols = ",\n       ".join(
        f"CAST(COALESCE(SUM(CASE WHEN b = {i} THEN 1 END), 0) AS BIGINT) AS histo_bin_{i}"
        for i in range(n_bins)
    )
    return f"""
WITH {SQL_TOKENS_STATIC},
flat AS (
  SELECT doc_id, unnest(tokens) AS t FROM tokens_static
),
stats AS (
  SELECT doc_id, min(t) AS mn, max(t) AS mx FROM flat GROUP BY doc_id
),
binned AS (
  SELECT f.doc_id,
         LEAST(CAST(FLOOR(CAST(f.t - s.mn AS DOUBLE) / (s.mx - s.mn) * {n_bins}.0) AS INTEGER), {n_bins - 1}) AS b
  FROM flat f JOIN stats s USING (doc_id)
  WHERE s.mx > s.mn
),
gcnt AS (  -- global (corpus) CDF over the 251-value token dim
  SELECT t AS tok, CAST(COUNT(*) AS BIGINT) AS c FROM flat GROUP BY t
),
gcdf AS (
  SELECT tok, SUM(c) OVER (ORDER BY tok ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM gcnt
),
gsc AS (SELECT MIN(cum) AS cmn, MAX(cum) AS nn FROM gcdf),
eqmap AS (  -- round-half-up equalized level, exact integer division
  SELECT tok,
         CASE WHEN s.nn = s.cmn THEN 0
              ELSE (2 * (cum - s.cmn) * 63 + (s.nn - s.cmn))
                   // (2 * (s.nn - s.cmn)) END AS eq
  FROM gcdf, gsc s
),
eqd AS (
  SELECT p.doc_id,
         CAST(SUM(e.eq) AS BIGINT) AS eq_sum,
         CAST(MIN(e.eq) AS BIGINT) AS eq_min,
         CAST(MAX(e.eq) AS BIGINT) AS eq_max,
         CAST(SUM(e.eq * p.pos) AS BIGINT) AS eq_checksum,
         CAST(COUNT(DISTINCT e.eq) AS BIGINT) AS eq_levels
  FROM (SELECT doc_id, unnest(tokens) AS tok,
               generate_subscripts(tokens, 1) AS pos
        FROM tokens_static) p
  JOIN eqmap e USING (tok)
  GROUP BY p.doc_id
),
hagg AS (  -- per-doc 64-slot count array (the Otsu input histogram)
  SELECT doc_id,
         list_transform(range(0, 64), i ->
           CAST(len(list_filter(bs, x -> x = i)) AS BIGINT)) AS hb
  FROM (SELECT doc_id, list(b) AS bs FROM binned GROUP BY doc_id)
),
ocum AS (  -- staged cumulative count/weighted-index arrays + totals
  SELECT doc_id,
         list_transform(range(1, 64), k ->
           CAST(COALESCE(list_sum(hb[1:k]), 0) AS BIGINT)) AS cw,
         list_transform(range(1, 64), k ->
           CAST(COALESCE(list_sum(list_transform(range(1, k + 1),
                j -> (j - 1) * hb[j])), 0) AS BIGINT)) AS cs,
         CAST(list_sum(hb) AS BIGINT) AS w,
         CAST(COALESCE(list_sum(list_transform(range(1, 65),
              j -> (j - 1) * hb[j])), 0) AS BIGINT) AS s
  FROM hagg
),
ov AS (  -- between-class-variance scores, the identical double chain
  SELECT doc_id, w,
         list_transform(range(1, 64), k -> CASE
           WHEN cw[k] > 0 AND cw[k] < w THEN
             CAST(w * cs[k] - cw[k] * s AS DOUBLE)
             * (w * cs[k] - cw[k] * s)
             / (cw[k] * (w - cw[k]))
           ELSE -1.0 END) AS v
  FROM ocum
),
ots AS (
  SELECT doc_id,
         CAST(list_position(v, list_max(v)) - 1 AS BIGINT) AS otsu_bin,
         FLOOR((list_max(v) / (CAST(w AS DOUBLE) * CAST(w AS DOUBLE)))
               * 10000.0 + 0.5) / 10000.0 AS otsu_sep4
  FROM ov
),
fgr AS (  -- Otsu-binarized foreground mask per position
  SELECT p.doc_id, p.pos,
         CASE WHEN LEAST(CAST(FLOOR(CAST(p.tok - s.mn AS DOUBLE)
                / (s.mx - s.mn) * 64.0) AS INTEGER), 63) > ot.otsu_bin
              THEN 1 ELSE 0 END AS f
  FROM (SELECT doc_id, unnest(tokens) AS tok,
               generate_subscripts(tokens, 1) AS pos
        FROM tokens_static) p
  JOIN stats s USING (doc_id) JOIN ots ot USING (doc_id)
  WHERE s.mx > s.mn
),
fgw AS (
  SELECT doc_id, pos, f,
         COALESCE(lag(f) OVER (PARTITION BY doc_id ORDER BY pos), 0) AS fp,
         COALESCE(lead(f) OVER (PARTITION BY doc_id ORDER BY pos), 0) AS fn
  FROM fgr
),
mor AS (
  SELECT doc_id,
         CAST(SUM(f) AS BIGINT) AS fg_count,
         CAST(SUM(f * (1 - fp)) AS BIGINT) AS fg_runs,
         CAST(SUM(fp * f * fn) AS BIGINT) AS eroded_count,
         CAST(SUM(CASE WHEN fp + f + fn > 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS dilated_count
  FROM fgw GROUP BY doc_id
),
mrun AS (  -- gaps-and-islands: longest foreground run
  SELECT doc_id, CAST(MAX(cnt) AS BIGINT) AS max_fg_run FROM (
    SELECT doc_id, grp, COUNT(*) AS cnt FROM (
      SELECT doc_id,
             pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
      FROM fgr WHERE f = 1)
    GROUP BY doc_id, grp)
  GROUP BY doc_id
),
fdbx AS (  -- fractal box counts: occupied dyadic boxes over the fg mask
  SELECT doc_id,
         CAST(COUNT(DISTINCT CASE WHEN f = 1 THEN (pos - 1) // 2 END)
              AS BIGINT) AS fd_n2,
         CAST(COUNT(DISTINCT CASE WHEN f = 1 THEN (pos - 1) // 4 END)
              AS BIGINT) AS fd_n4,
         CAST(COUNT(DISTINCT CASE WHEN f = 1 THEN (pos - 1) // 8 END)
              AS BIGINT) AS fd_n8
  FROM fgr GROUP BY doc_id
),
hpr AS (  -- histogram-percentile audit: lower-rank targets + sorted picks
  SELECT t.doc_id,
         CAST((len(t.tokens) + 1) // 2 AS BIGINT) AS r50,
         CAST(((len(t.tokens) - 1) * 9) // 10 + 1 AS BIGINT) AS r90,
         list_sort(t.tokens) AS st
  FROM tokens_static t JOIN stats s USING (doc_id) WHERE s.mx > s.mn
),
hpk AS (  -- first bin whose cumulative reaches the rank (0-based index)
  SELECT h.doc_id,
         CAST(list_sum(list_transform(range(1, 65), k ->
           CASE WHEN COALESCE(list_sum(h.hb[1:k]), 0) < r.r50
                THEN 1 ELSE 0 END)) AS BIGINT) AS hp_k50,
         CAST(list_sum(list_transform(range(1, 65), k ->
           CASE WHEN COALESCE(list_sum(h.hb[1:k]), 0) < r.r90
                THEN 1 ELSE 0 END)) AS BIGINT) AS hp_k90
  FROM hagg h JOIN hpr r USING (doc_id)
),
hpe AS (
  SELECT r.doc_id, k.hp_k50, k.hp_k90,
         CAST(s.mn + ((2 * k.hp_k50 + 1) * CAST(s.mx - s.mn AS BIGINT)) // 128
              AS BIGINT) AS hp_est50,
         CAST(s.mn + ((2 * k.hp_k90 + 1) * CAST(s.mx - s.mn AS BIGINT)) // 128
              AS BIGINT) AS hp_est90,
         CAST(r.st[CAST(r.r50 AS INTEGER)] AS BIGINT) AS hp_exact50,
         CAST(r.st[CAST(r.r90 AS INTEGER)] AS BIGINT) AS hp_exact90
  FROM hpr r JOIN hpk k USING (doc_id) JOIN stats s USING (doc_id)
)
SELECT bn.doc_id,
       {cols},
       MAX(q.eq_sum) AS eq_sum,
       MAX(q.eq_min) AS eq_min,
       MAX(q.eq_max) AS eq_max,
       MAX(q.eq_checksum) AS eq_checksum,
       MAX(q.eq_levels) AS eq_levels,
       MAX(ot.otsu_bin) AS otsu_bin,
       MAX(ot.otsu_sep4) AS otsu_sep4,
       MAX(mo.fg_count) AS fg_count,
       MAX(mo.fg_runs) AS fg_runs,
       MAX(COALESCE(mr.max_fg_run, 0)) AS max_fg_run,
       MAX(mo.eroded_count) AS eroded_count,
       MAX(mo.dilated_count) AS dilated_count,
       MAX(fb.fd_n2) AS fd_n2,
       MAX(fb.fd_n4) AS fd_n4,
       MAX(fb.fd_n8) AS fd_n8,
       MAX(hp.hp_k50) AS hp_k50,
       MAX(hp.hp_k90) AS hp_k90,
       MAX(hp.hp_est50) AS hp_est50,
       MAX(hp.hp_est90) AS hp_est90,
       MAX(hp.hp_exact50) AS hp_exact50,
       MAX(hp.hp_exact90) AS hp_exact90,
       MAX(hp.hp_est50 - hp.hp_exact50) AS hp_err50,
       MAX(hp.hp_est90 - hp.hp_exact90) AS hp_err90
FROM binned bn JOIN eqd q USING (doc_id) JOIN ots ot USING (doc_id)
JOIN mor mo USING (doc_id)
LEFT JOIN mrun mr USING (doc_id)
JOIN fdbx fb USING (doc_id)
JOIN hpe hp USING (doc_id)
GROUP BY bn.doc_id
"""


def sql_catalog_wide() -> str:
    """Cross-family composition oracle: one column from each kernel family,
    each recomputed by its own independent sub-oracle and equi-joined on
    doc_id. The Spark side computes ALL of them in a single extract_features
    pass (seven sections sharing one Segments + binning cache) — this checks
    the section COMPOSITION, not just each family in isolation."""
    return f"""
SELECT f.doc_id, f.mean_tok, f.median_tok, p.p25, c.glcm_contrast,
       r.glrlm_lre, z.gldzm_lde, d.gldm_lde, i.ih_median_idx,
       h.histo_bin_0, m.m1, m.mid2 AS mom_mid2, i.ih_skew_val,
       -- catalog-inventory tripwire: pinned expected registry counts
       CAST(257 AS BIGINT) AS catalog_n_default,
       CAST(265 AS BIGINT) AS catalog_n_all,
       CAST(8 AS BIGINT) AS catalog_n_gabor
FROM (
  WITH {SQL_TOKENS_STATIC},
  flat AS (SELECT doc_id, unnest(tokens) AS t FROM tokens_static),
  st AS (
    SELECT doc_id, COUNT(*) AS n, min(t) AS mn, max(t) AS mx,
           CAST(SUM(CAST(t AS BIGINT)) AS BIGINT) AS s, median(t) AS med
    FROM flat GROUP BY doc_id HAVING max(t) > min(t)
  )
  SELECT doc_id,
         FLOOR((CAST(s AS DOUBLE) / n) * 10000.0 + 0.5) / 10000.0 AS mean_tok,
         FLOOR((CAST(med AS DOUBLE)) * 10000.0 + 0.5) / 10000.0 AS median_tok
  FROM st
) f
JOIN ({sql_percentiles()}) p USING (doc_id)
JOIN ({sql_glcm(64)}) c USING (doc_id)
JOIN ({sql_glrlm(64)}) r USING (doc_id)
JOIN ({sql_gldzm(64)}) z USING (doc_id)
JOIN ({sql_gldm(64)}) d USING (doc_id)
JOIN ({sql_ih(64)}) i USING (doc_id)
JOIN ({sql_histo_bins(64)}) h USING (doc_id)
JOIN ({sql_moments()}) m USING (doc_id)
"""


def sql_ih(n_bins: int = 64) -> str:
    """IH index-domain features — reproduces the kernel's histogram walk
    (intensity_histogram.cpp:69-118 semantics) with the exact same float-op
    sequence so the derived doubles are bit-identical."""
    nb = n_bins
    return f"""
WITH {SQL_TOKENS_STATIC},
flat AS (
  SELECT doc_id, n_tok, unnest(tokens) AS t FROM tokens_static
),
stats AS (
  SELECT doc_id, CAST(min(t) AS DOUBLE) AS mn, CAST(max(t) AS DOUBLE) AS mx,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM flat GROUP BY doc_id HAVING max(t) > min(t)
),
bw AS (SELECT doc_id, mn, mx, n, (mx - mn) / {nb} AS w FROM stats),
binned AS (
  SELECT f.doc_id,
         LEAST(GREATEST(CAST(FLOOR((f.t - b.mn) / b.w) AS INTEGER), 0), {nb - 1}) AS bin
  FROM flat f JOIN bw b USING (doc_id)
),
freq AS (
  SELECT doc_id, bin, CAST(COUNT(*) AS BIGINT) AS c FROM binned GROUP BY doc_id, bin
),
isums AS (  -- exact-integer index-domain accumulations (S1, S2, Σf²)
  SELECT doc_id,
         CAST(SUM(c * bin) AS BIGINT) AS s1,
         CAST(SUM(c * bin * bin) AS BIGINT) AS s2,
         CAST(SUM(c * c) AS BIGINT) AS sq
  FROM freq GROUP BY doc_id
),
cums AS (
  SELECT doc_id, bin, c,
         SUM(c) OVER (PARTITION BY doc_id ORDER BY bin
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM freq
),
med AS (  -- first present bin whose cumulative count exceeds floor(n/2)
  SELECT doc_id, MIN(bin) AS med_bin
  FROM cums JOIN bw USING (doc_id)
  WHERE cum > CAST(n // 2 AS DOUBLE)
  GROUP BY doc_id
),
mode AS (
  SELECT doc_id, bin AS mode_bin FROM (
    SELECT doc_id, bin, row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, bin ASC) AS rn
    FROM freq) WHERE rn = 1
),
q10 AS (  -- p < 0.5 branch: first bin where cum/n >= p
  SELECT c.doc_id, MIN(c.bin) AS nstar
  FROM cums c JOIN bw b USING (doc_id)
  WHERE CAST(c.cum AS DOUBLE) / b.n >= 0.10
  GROUP BY c.doc_id
),
q10v AS (
  SELECT c.doc_id,
         (b.mn + q.nstar * b.w)
         + ((0.10 - CAST(c.cum - c.c AS DOUBLE) / b.n) / (CAST(c.c AS DOUBLE) / b.n)) * b.w AS v10
  FROM q10 q JOIN cums c ON c.doc_id = q.doc_id AND c.bin = q.nstar
  JOIN bw b ON b.doc_id = q.doc_id
),
q90 AS (  -- p >= 0.5 branch: last bin where (cum - c)/n <= p
  SELECT c.doc_id, MAX(c.bin) AS istar
  FROM cums c JOIN bw b USING (doc_id)
  WHERE CAST(c.cum - c.c AS DOUBLE) / b.n <= 0.90
  GROUP BY c.doc_id
),
q90v AS (
  SELECT c.doc_id,
         (b.mn + (q.istar + 1.0) * b.w)
         - ((CAST(c.cum AS DOUBLE) / b.n - 0.90) / (CAST(c.c AS DOUBLE) / b.n)) * b.w AS v90
  FROM q90 q JOIN cums c ON c.doc_id = q.doc_id AND c.bin = q.istar
  JOIN bw b ON b.doc_id = q.doc_id
),
q25 AS (  -- p < 0.5 branch at p = 0.25
  SELECT c.doc_id, MIN(c.bin) AS nstar
  FROM cums c JOIN bw b USING (doc_id)
  WHERE CAST(c.cum AS DOUBLE) / b.n >= 0.25
  GROUP BY c.doc_id
),
q25v AS (
  SELECT c.doc_id,
         (b.mn + q.nstar * b.w)
         + ((0.25 - CAST(c.cum - c.c AS DOUBLE) / b.n) / (CAST(c.c AS DOUBLE) / b.n)) * b.w AS v25
  FROM q25 q JOIN cums c ON c.doc_id = q.doc_id AND c.bin = q.nstar
  JOIN bw b ON b.doc_id = q.doc_id
),
q75 AS (  -- p >= 0.5 branch at p = 0.75
  SELECT c.doc_id, MAX(c.bin) AS istar
  FROM cums c JOIN bw b USING (doc_id)
  WHERE CAST(c.cum - c.c AS DOUBLE) / b.n <= 0.75
  GROUP BY c.doc_id
),
q75v AS (
  SELECT c.doc_id,
         (b.mn + (q.istar + 1.0) * b.w)
         - ((CAST(c.cum AS DOUBLE) / b.n - 0.75) / (CAST(c.c AS DOUBLE) / b.n)) * b.w AS v75
  FROM q75 q JOIN cums c ON c.doc_id = q.doc_id AND c.bin = q.istar
  JOIN bw b ON b.doc_id = q.doc_id
),
pidx AS (  -- bin index of each interpolated quantile (kernel get_index_of)
  SELECT b.doc_id,
         LEAST(GREATEST(CAST(FLOOR((q1.v10 - b.mn) / b.w) AS INTEGER), 0), {nb - 1}) AS i10,
         LEAST(GREATEST(CAST(FLOOR((q2.v25 - b.mn) / b.w) AS INTEGER), 0), {nb - 1}) AS i25,
         LEAST(GREATEST(CAST(FLOOR((q7.v75 - b.mn) / b.w) AS INTEGER), 0), {nb - 1}) AS i75,
         LEAST(GREATEST(CAST(FLOOR((q9.v90 - b.mn) / b.w) AS INTEGER), 0), {nb - 1}) AS i90
  FROM bw b JOIN q10v q1 USING (doc_id) JOIN q25v q2 USING (doc_id)
  JOIN q75v q7 USING (doc_id) JOIN q90v q9 USING (doc_id)
),
devs AS (  -- exact-integer deviation numerators: Σf·|n·i − S1|, Σf·|i − med|
  SELECT f.doc_id,
         CAST(SUM(f.c * ABS(b.n * f.bin - i.s1)) AS BIGINT) AS madnum,
         CAST(SUM(f.c * ABS(f.bin - m.med_bin)) AS BIGINT) AS medadnum
  FROM freq f JOIN bw b USING (doc_id) JOIN isums i USING (doc_id)
  JOIN med m USING (doc_id)
  GROUP BY f.doc_id
),
band AS (  -- robust band [p10_idx, p90_idx]: exact count and Σf·i
  SELECT f.doc_id,
         CAST(SUM(f.c) AS BIGINT) AS rc,
         CAST(SUM(f.c * f.bin) AS BIGINT) AS b1
  FROM freq f JOIN pidx p USING (doc_id)
  WHERE f.bin BETWEEN p.i10 AND p.i90
  GROUP BY f.doc_id
),
rmadn AS (  -- Σ_band f·|rc·i − B1| (exact ints)
  SELECT f.doc_id, CAST(SUM(f.c * ABS(d.rc * f.bin - d.b1)) AS BIGINT) AS num
  FROM freq f JOIN pidx p USING (doc_id) JOIN band d USING (doc_id)
  WHERE f.bin BETWEEN p.i10 AND p.i90
  GROUP BY f.doc_id
),
grid AS (
  SELECT b.doc_id, CAST(u.p AS INTEGER) AS bin
  FROM bw b, unnest(range(0, {nb})) AS u(p)
),
densef AS (  -- dense counts incl. absent bins (gradients need the zeros)
  SELECT g.doc_id, g.bin, COALESCE(f.c, 0) AS c
  FROM grid g LEFT JOIN freq f ON f.doc_id = g.doc_id AND f.bin = g.bin
),
grads AS (  -- central differences, forward/backward at edges (exact halves)
  SELECT doc_id, bin,
         CASE WHEN bin = 0 THEN CAST(lead(c) OVER w - c AS DOUBLE)
              WHEN bin = {nb - 1} THEN CAST(c - lag(c) OVER w AS DOUBLE)
              ELSE CAST(lead(c) OVER w - lag(c) OVER w AS DOUBLE) / 2.0 END AS gr
  FROM densef WINDOW w AS (PARTITION BY doc_id ORDER BY bin)
),
gagg AS (SELECT doc_id, MAX(gr) AS gmx, MIN(gr) AS gmn FROM grads GROUP BY doc_id),
skf AS (  -- skew/kurt numerators: the kernel's axis-1 sums run over 64 bins
  -- (below numpy's 128-element pairwise threshold → sequential in bin
  -- order), replayed addition-for-addition; per-bin term = ((p·d²)·d) with
  -- p = c/n and d = bin − S1/n, matching the kernel's multiply tree
  SELECT d.doc_id,
         list_reduce(list(
           ((CAST(d.c AS DOUBLE) / b.n)
            * ((CAST(d.bin AS DOUBLE) - CAST(i.s1 AS DOUBLE) / b.n)
               * (CAST(d.bin AS DOUBLE) - CAST(i.s1 AS DOUBLE) / b.n)))
           * (CAST(d.bin AS DOUBLE) - CAST(i.s1 AS DOUBLE) / b.n)
           ORDER BY d.bin), (a, x) -> a + x) AS s3,
         list_reduce(list(
           ((CAST(d.c AS DOUBLE) / b.n)
            * ((CAST(d.bin AS DOUBLE) - CAST(i.s1 AS DOUBLE) / b.n)
               * (CAST(d.bin AS DOUBLE) - CAST(i.s1 AS DOUBLE) / b.n)))
           * ((CAST(d.bin AS DOUBLE) - CAST(i.s1 AS DOUBLE) / b.n)
              * (CAST(d.bin AS DOUBLE) - CAST(i.s1 AS DOUBLE) / b.n))
           ORDER BY d.bin), (a, x) -> a + x) AS s4
  FROM densef d JOIN bw b USING (doc_id) JOIN isums i USING (doc_id)
  GROUP BY d.doc_id
),
gidx AS (  -- first (lowest-bin) occurrence, matching np.argmax/argmin
  SELECT g.doc_id,
         MIN(g.bin) FILTER (g.gr = a.gmx) AS mx_bin,
         MIN(g.bin) FILTER (g.gr = a.gmn) AS mn_bin
  FROM grads g JOIN gagg a USING (doc_id) GROUP BY g.doc_id
)
SELECT b.doc_id,
       CAST(m.med_bin + 1 AS BIGINT) AS ih_median_idx,
       CAST(mo.mode_bin + 1 AS BIGINT) AS ih_mode_idx,
       CAST(LEAST(GREATEST(CAST(FLOOR((q1.v10 - b.mn) / b.w) AS INTEGER), 0), {nb - 1}) + 1 AS BIGINT) AS ih_p10_idx,
       CAST(LEAST(GREATEST(CAST(FLOOR((q9.v90 - b.mn) / b.w) AS INTEGER), 0), {nb - 1}) + 1 AS BIGINT) AS ih_p90_idx,
       CAST({nb} AS BIGINT) AS ih_num_bins,
       FLOOR((b.w) * 10000.0 + 0.5) / 10000.0 AS ih_bin_size,
       FLOOR((b.mn + (m.med_bin + 0.5) * b.w) * 10000.0 + 0.5) / 10000.0 AS ih_median_val,
       -- value-domain stats: same integer numerators + identical IEEE op order
       -- as the kernel (ih.py: S1/S2/Σf² forms)
       FLOOR((b.mn + (CAST(s.s1 AS DOUBLE) / b.n + 0.5) * b.w) * 10000.0 + 0.5) / 10000.0 AS ih_mean_val,
       FLOOR(((CAST(b.n * s.s2 - s.s1 * s.s1 AS DOUBLE) / (b.n * b.n)) * (b.w * b.w))
             * 10000.0 + 0.5) / 10000.0 AS ih_var_val,
       FLOOR((CAST(s.sq AS DOUBLE) / (b.n * b.n)) * 10000.0 + 0.5) / 10000.0 AS ih_uniformity_val,
       FLOOR((b.mn + (mo.mode_bin + 0.5) * b.w) * 10000.0 + 0.5) / 10000.0 AS ih_mode_val,
       FLOOR((b.mx - b.mn) * 10000.0 + 0.5) / 10000.0 AS ih_range_val,
       FLOOR((q1.v10) * 10000.0 + 0.5) / 10000.0 AS ih_p10_val,
       FLOOR((q9.v90) * 10000.0 + 0.5) / 10000.0 AS ih_p90_val,
       -- DBL_MIN seeding (intensity_histogram.cpp:162-167): no positive
       -- gradient → value stays at the seed (rounds to 0) and idx at 0
       CASE WHEN ga.gmx > 0 THEN FLOOR((ga.gmx) * 10000.0 + 0.5) / 10000.0
            ELSE 0.0 END AS ih_max_grad,
       CAST(CASE WHEN ga.gmx > 0 THEN gi.mx_bin + 1 ELSE 0 END AS BIGINT) AS ih_max_grad_idx,
       FLOOR((ga.gmn) * 10000.0 + 0.5) / 10000.0 AS ih_min_grad,
       CAST(gi.mn_bin + 1 AS BIGINT) AS ih_min_grad_idx,
       -- round-4 widening: same kernel IEEE op order, exact-int numerators
       FLOOR((b.mn) * 10000.0 + 0.5) / 10000.0 AS ih_min_val,
       FLOOR((b.mx) * 10000.0 + 0.5) / 10000.0 AS ih_max_val,
       FLOOR(((CAST(s.s1 AS DOUBLE) / b.n) + 1.0) * 10000.0 + 0.5) / 10000.0 AS ih_mean_idx_val,
       FLOOR((CAST(b.n * s.s2 - s.s1 * s.s1 AS DOUBLE) / (b.n * b.n))
             * 10000.0 + 0.5) / 10000.0 AS ih_var_idx_val,
       FLOOR((q7.v75 - q2.v25) * 10000.0 + 0.5) / 10000.0 AS ih_iqr_val,
       CAST(p.i75 - p.i25 AS BIGINT) AS ih_iqr_idx,
       FLOOR(((q7.v75 - q2.v25) / (q7.v75 + q2.v25)) * 10000.0 + 0.5) / 10000.0 AS ih_qcod_val,
       FLOOR((CAST(p.i75 - p.i25 AS DOUBLE) / (p.i75 + 1.0 + p.i25 + 1.0))
             * 10000.0 + 0.5) / 10000.0 AS ih_qcod_idx,
       FLOOR((sqrt((CAST(b.n * s.s2 - s.s1 * s.s1 AS DOUBLE) / (b.n * b.n)) * (b.w * b.w))
              / (b.mn + (CAST(s.s1 AS DOUBLE) / b.n + 0.5) * b.w))
             * 10000.0 + 0.5) / 10000.0 AS ih_cv_val,
       FLOOR((sqrt(CAST(b.n * s.s2 - s.s1 * s.s1 AS DOUBLE) / (b.n * b.n))
              / (CAST(s.s1 AS DOUBLE) / b.n + 1.0))
             * 10000.0 + 0.5) / 10000.0 AS ih_cv_idx,
       FLOOR(((CAST(d.madnum AS DOUBLE) / (b.n * b.n)) * b.w) * 10000.0 + 0.5) / 10000.0 AS ih_mad_val,
       FLOOR((CAST(d.madnum AS DOUBLE) / (b.n * b.n)) * 10000.0 + 0.5) / 10000.0 AS ih_mad_idx,
       FLOOR(((CAST(d.medadnum AS DOUBLE) / b.n) * b.w) * 10000.0 + 0.5) / 10000.0 AS ih_medad_val,
       FLOOR((CAST(d.medadnum AS DOUBLE) / b.n) * 10000.0 + 0.5) / 10000.0 AS ih_medad_idx,
       FLOOR((b.mn + (CAST(ba.b1 AS DOUBLE) / ba.rc + 0.5) * b.w) * 10000.0 + 0.5) / 10000.0 AS ih_rmean_val,
       FLOOR((CAST(ba.b1 AS DOUBLE) / ba.rc) * 10000.0 + 0.5) / 10000.0 AS ih_rmean_idx,
       FLOOR(((CAST(r.num AS DOUBLE) / (ba.rc * ba.rc)) * b.w) * 10000.0 + 0.5) / 10000.0 AS ih_rmad_val,
       FLOOR((CAST(r.num AS DOUBLE) / (ba.rc * ba.rc)) * 10000.0 + 0.5) / 10000.0 AS ih_rmad_idx,
       -- skew/kurt: fold numerator / IEEE-chain denominator (var·sqrt(var),
       -- var·var); VAL ≡ IDX because centers are affine in the index
       FLOOR((sk.s3 / ((CAST(b.n * s.s2 - s.s1 * s.s1 AS DOUBLE) / (b.n * b.n))
                       * sqrt(CAST(b.n * s.s2 - s.s1 * s.s1 AS DOUBLE) / (b.n * b.n))))
             * 10000.0 + 0.5) / 10000.0 AS ih_skew_val,
       FLOOR((sk.s3 / ((CAST(b.n * s.s2 - s.s1 * s.s1 AS DOUBLE) / (b.n * b.n))
                       * sqrt(CAST(b.n * s.s2 - s.s1 * s.s1 AS DOUBLE) / (b.n * b.n))))
             * 10000.0 + 0.5) / 10000.0 AS ih_skew_idx,
       FLOOR((sk.s4 / ((CAST(b.n * s.s2 - s.s1 * s.s1 AS DOUBLE) / (b.n * b.n))
                       * (CAST(b.n * s.s2 - s.s1 * s.s1 AS DOUBLE) / (b.n * b.n))) - 3.0)
             * 10000.0 + 0.5) / 10000.0 AS ih_exkurt_val,
       FLOOR((sk.s4 / ((CAST(b.n * s.s2 - s.s1 * s.s1 AS DOUBLE) / (b.n * b.n))
                       * (CAST(b.n * s.s2 - s.s1 * s.s1 AS DOUBLE) / (b.n * b.n))) - 3.0)
             * 10000.0 + 0.5) / 10000.0 AS ih_exkurt_idx
FROM bw b JOIN med m USING (doc_id) JOIN mode mo USING (doc_id)
JOIN q10v q1 USING (doc_id) JOIN q90v q9 USING (doc_id)
JOIN q25v q2 USING (doc_id) JOIN q75v q7 USING (doc_id)
JOIN pidx p USING (doc_id) JOIN devs d USING (doc_id)
JOIN band ba USING (doc_id) JOIN rmadn r USING (doc_id)
JOIN isums s USING (doc_id)
JOIN gagg ga USING (doc_id) JOIN gidx gi USING (doc_id)
JOIN skf sk USING (doc_id)
"""


SQL_TOPK_BATCH = """
WITH q AS (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
  FROM embeddings WHERE vec_id < 3
),
scored AS (
  SELECT q.query_id, e.vec_id,
         FLOOR((list_inner_product(CAST(e.embedding AS DOUBLE[]), q.qv)
               / (sqrt(list_inner_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))
                * sqrt(list_inner_product(q.qv, q.qv)))) * 10000.0 + 0.5) / 10000.0 AS cos
  FROM embeddings e, q
),
ranked AS (
  SELECT query_id, vec_id, cos,
         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS rn
  FROM scored
)
SELECT query_id, vec_id, cos FROM ranked WHERE rn <= 5
"""


def sql_topk_batch_rerank(k: int = 5, m: int = 20) -> str:
    """Brute top-k per query (SQL_TOPK_BATCH semantics, rank emitted) joined
    on (query_id, rank) with the two-stage int8->float RERANK replay:
    stage 1 = exact int64 dot product of int8-quantized vectors, top-m per
    query (int desc, id asc); stage 2 = exact fround4 cosine over the m
    survivors, top-k. Every stage-1 score is an exact integer, so the
    candidate set is engine-identical by construction."""
    quant = """
    CASE WHEN list_max(list_transform(CAST(embedding AS DOUBLE[]), y -> abs(y))) = 0
         THEN list_transform(CAST(embedding AS DOUBLE[]), x -> 0)
         ELSE list_transform(CAST(embedding AS DOUBLE[]),
                x -> CAST(FLOOR(127.0 * x
                     / list_max(list_transform(CAST(embedding AS DOUBLE[]), y -> abs(y)))
                     + 0.5) AS INTEGER))
    END"""
    return f"""
WITH q AS (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
  FROM embeddings WHERE vec_id < 3
),
scored AS (
  SELECT q.query_id, e.vec_id,
         FLOOR((list_inner_product(CAST(e.embedding AS DOUBLE[]), q.qv)
               / (sqrt(list_inner_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))
                * sqrt(list_inner_product(q.qv, q.qv)))) * 10000.0 + 0.5) / 10000.0 AS cos
  FROM embeddings e, q
),
ranked AS (
  SELECT query_id, vec_id, cos,
         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS rn
  FROM scored
),
q8 AS (SELECT vec_id, {quant} AS qv8 FROM embeddings),
qq8 AS (SELECT vec_id AS query_id, qv8 AS qq FROM q8 WHERE vec_id < 3),
s1 AS (  -- stage 1: exact int64 dot product of the int8 codes
  SELECT qq8.query_id, c.vec_id,
         CAST(COALESCE(list_sum(list_transform(range(1, len(c.qv8) + 1),
           i -> CAST(c.qv8[i] AS BIGINT) * qq8.qq[i])), 0) AS BIGINT)
           AS rr_int8_score
  FROM q8 c, qq8
),
cand AS (
  SELECT query_id, vec_id, rr_int8_score FROM (
    SELECT query_id, vec_id, rr_int8_score,
           row_number() OVER (PARTITION BY query_id
             ORDER BY rr_int8_score DESC, vec_id ASC) AS r1
    FROM s1) WHERE r1 <= {m}
),
s2 AS (  -- stage 2: exact cosine over the m survivors only
  SELECT cd.query_id, cd.vec_id, cd.rr_int8_score,
         FLOOR((list_inner_product(CAST(e.embedding AS DOUBLE[]), q.qv)
               / (sqrt(list_inner_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))
                * sqrt(list_inner_product(q.qv, q.qv)))) * 10000.0 + 0.5) / 10000.0 AS rr_cos4
  FROM cand cd JOIN embeddings e USING (vec_id)
       JOIN q ON q.query_id = cd.query_id
),
rr AS (
  SELECT query_id,
         CAST(row_number() OVER (PARTITION BY query_id
           ORDER BY rr_cos4 DESC, vec_id ASC) AS BIGINT) AS rr_rank,
         CAST(vec_id AS BIGINT) AS rr_vec_id, rr_int8_score, rr_cos4
  FROM s2
)
SELECT r.query_id, r.vec_id, r.cos, CAST(r.rn AS BIGINT) AS rank,
       rr.rr_vec_id, rr.rr_int8_score, rr.rr_cos4
FROM ranked r JOIN rr ON rr.query_id = r.query_id AND rr.rr_rank = r.rn
WHERE r.rn <= {k}
"""


def sql_haar() -> str:
    """Haar multi-resolution energies (signal.py haar_cols): pairwise sums
    cascade as the approximation, pairwise differences as the detail, odd
    tails dropped per level — every coefficient an exact integer (deferred
    1/sqrt(2) normalization), every energy one exact BIGINT sum."""
    return f"""
WITH {SQL_TOKENS_STATIC},
h1 AS (
  SELECT doc_id,
         CASE WHEN n_tok >= 2 THEN
           list_transform(range(1, n_tok // 2 + 1),
             i -> tokens[2 * i - 1] + tokens[2 * i])
         ELSE [] END AS a1,
         CASE WHEN n_tok >= 2 THEN
           CAST(COALESCE(list_sum(list_transform(range(1, n_tok // 2 + 1),
             i -> CAST(tokens[2 * i - 1] - tokens[2 * i] AS BIGINT)
                  * (tokens[2 * i - 1] - tokens[2 * i]))), 0) AS BIGINT)
         ELSE 0 END AS haar_d1
  FROM tokens_static
),
h2 AS (
  SELECT doc_id, haar_d1,
         CASE WHEN len(a1) >= 2 THEN
           list_transform(range(1, len(a1) // 2 + 1),
             i -> a1[2 * i - 1] + a1[2 * i])
         ELSE [] END AS a2,
         CASE WHEN len(a1) >= 2 THEN
           CAST(COALESCE(list_sum(list_transform(range(1, len(a1) // 2 + 1),
             i -> CAST(a1[2 * i - 1] - a1[2 * i] AS BIGINT)
                  * (a1[2 * i - 1] - a1[2 * i]))), 0) AS BIGINT)
         ELSE 0 END AS haar_d2
  FROM h1
),
h3 AS (
  SELECT doc_id, haar_d1, haar_d2,
         CASE WHEN len(a2) >= 2 THEN
           list_transform(range(1, len(a2) // 2 + 1),
             i -> a2[2 * i - 1] + a2[2 * i])
         ELSE [] END AS a3,
         CASE WHEN len(a2) >= 2 THEN
           CAST(COALESCE(list_sum(list_transform(range(1, len(a2) // 2 + 1),
             i -> CAST(a2[2 * i - 1] - a2[2 * i] AS BIGINT)
                  * (a2[2 * i - 1] - a2[2 * i]))), 0) AS BIGINT)
         ELSE 0 END AS haar_d3
  FROM h2
)
SELECT doc_id, haar_d1, haar_d2, haar_d3,
       CAST(COALESCE(list_sum(list_transform(a3,
              x -> CAST(x AS BIGINT) * x)), 0) AS BIGINT) AS haar_a3
FROM h3
"""
