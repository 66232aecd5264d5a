"""DuckDB oracle SQL for the training-data operators (textops package).

Rendered from the same semantic sources as the Spark implementations: the
shared tokenizer pattern, the portable md5-prefix hash (hashing.hash64_sql),
the same shingle/band/bit constants.  Where the Spark side sums floats, both
engines use sequential double-precision folds (F.aggregate vs
list_dot_product) and results are rounded before comparison.
"""

from __future__ import annotations

from lucene_solr_spark.analysis.analyzer import sql_quoted_pattern, sql_stopword_list
from lucene_solr_spark.hashing import hash64_sql
from lucene_solr_spark.textops.analyze import FP_MOD, LANG_MARKERS
from lucene_solr_spark.textops.dedup import SIMHASH_BITS

_PAT = sql_quoted_pattern()
_STOP = sql_stopword_list()

# Augmented corpus used by the dedup queries: the base documents plus exact
# copies (ids +100000) of docs 0..9 and near copies (ids +200000, one extra
# token) of docs 10..19 — identical construction on the Spark side.
AUG_DOCS = """aug AS (
  SELECT doc_id, text FROM documents
  UNION ALL SELECT doc_id + 100000, text FROM documents WHERE doc_id < 10
  UNION ALL SELECT doc_id + 200000, text || ' extraword' FROM documents
  WHERE doc_id >= 10 AND doc_id < 20
)"""


def tok_cte(source: str = "documents", id_expr: str = "doc_id") -> str:
    """Analyzer-equivalent token CTEs over (id, text) of ``source``:
    tok(docid, term, pos) post-filter, ord(docid, term, rn) with consecutive
    0-based ranks."""
    return f"""tokraw AS (
  SELECT docid, t AS raw_term, lower(t) AS term, (pos - 1) AS pos
  FROM (
    SELECT {id_expr} AS docid,
           unnest(regexp_extract_all(text, {_PAT})) AS t,
           unnest(range(1, len(regexp_extract_all(text, {_PAT})) + 1)) AS pos
    FROM {source}
  )
  WHERE t <> ''
),
tok AS (
  SELECT docid, term, pos FROM tokraw
  WHERE length(raw_term) BETWEEN 1 AND 255 AND term NOT IN {_STOP}
),
ord AS (
  SELECT docid, term,
         row_number() OVER (PARTITION BY docid ORDER BY pos) - 1 AS rn
  FROM tok
)"""


SHINGLES_CTE = """sh AS (
  SELECT DISTINCT a.docid, a.term || ' ' || b.term || ' ' || c.term AS shingle
  FROM ord a
  JOIN ord b ON b.docid = a.docid AND b.rn = a.rn + 1
  JOIN ord c ON c.docid = a.docid AND c.rn = a.rn + 2
)"""


def exact_dedup_sql() -> str:
    return f"""WITH {AUG_DOCS}
SELECT min(doc_id) AS canonical_id, count(*) AS n_dups
FROM aug GROUP BY md5(text) HAVING count(*) > 1
ORDER BY canonical_id"""


def _perm_min(j: int) -> str:
    h = hash64_sql("shingle || '#" + str(j) + "'")
    return f"min({h}) AS mh{j}"


def minhash_signatures_sql(num_perm: int = 8) -> str:
    mins = ",\n       ".join(_perm_min(j) for j in range(num_perm))
    return f"""WITH {tok_cte()},
{SHINGLES_CTE}
SELECT docid, {mins}
FROM sh GROUP BY docid ORDER BY docid"""


def _sig_cte(num_perm: int) -> str:
    mins = ", ".join(_perm_min(j) for j in range(num_perm))
    return f"sig AS (SELECT docid, {mins} FROM sh GROUP BY docid)"


def near_dup_pairs_sql(num_perm: int = 8, bands: int = 4, threshold: float = 0.5) -> str:
    rows = num_perm // bands
    band_selects = []
    for b in range(bands):
        cols = " || '|' || ".join(
            f"CAST(mh{b * rows + r} AS VARCHAR)" for r in range(rows)
        )
        bucket_h = hash64_sql("'" + str(b) + "' || '|' || " + cols)
        band_selects.append(f"SELECT docid, {bucket_h} AS bucket FROM sig")
    buckets = "\n  UNION ALL ".join(band_selects)
    return f"""WITH {AUG_DOCS},
{tok_cte('aug')},
{SHINGLES_CTE},
{_sig_cte(num_perm)},
buckets AS (
  {buckets}
),
cand AS (
  SELECT DISTINCT a.docid AS docid_a, b.docid AS docid_b
  FROM buckets a JOIN buckets b ON a.bucket = b.bucket AND a.docid < b.docid
),
sizes AS (SELECT docid, count(*) AS n FROM sh GROUP BY docid),
common AS (
  SELECT c.docid_a, c.docid_b, count(*) AS n_common
  FROM cand c
  JOIN sh sa ON sa.docid = c.docid_a
  JOIN sh sb ON sb.docid = c.docid_b AND sb.shingle = sa.shingle
  GROUP BY 1, 2
)
SELECT c.docid_a, c.docid_b,
       round(1.0 * coalesce(cm.n_common, 0)
             / (na.n + nb.n - coalesce(cm.n_common, 0)), 4) AS jaccard
FROM cand c
LEFT JOIN common cm ON cm.docid_a = c.docid_a AND cm.docid_b = c.docid_b
JOIN sizes na ON na.docid = c.docid_a
JOIN sizes nb ON nb.docid = c.docid_b
WHERE 1.0 * coalesce(cm.n_common, 0)
      / (na.n + nb.n - coalesce(cm.n_common, 0)) >= {threshold}
ORDER BY c.docid_a, c.docid_b"""


def simhash_sql(bits: int = SIMHASH_BITS, max_docid: int = 100) -> str:
    votes = ",\n       ".join(
        f"sum(CASE WHEN ((h >> {i}) & 1) = 1 THEN tf ELSE -tf END) AS v{i}"
        for i in range(bits)
    )
    combine = " + ".join(
        f"(CASE WHEN v{i} >= 0 THEN CAST({1 << i} AS BIGINT) ELSE 0 END)"
        for i in range(bits)
    )
    return f"""WITH {tok_cte()},
tf AS (
  SELECT docid, term, count(*) AS tf, {hash64_sql('term')} AS h
  FROM tok WHERE docid < {max_docid} GROUP BY docid, term
),
v AS (SELECT docid, {votes} FROM tf GROUP BY docid)
SELECT docid, {combine} AS simhash FROM v ORDER BY docid"""


def language_id_sql() -> str:
    langs = sorted(LANG_MARKERS)
    counts = []
    for lg in langs:
        inlist = ", ".join(f"'{w}'" for w in LANG_MARKERS[lg])
        counts.append(
            f"count(CASE WHEN t.term IN ({inlist}) THEN 1 END) AS c_{lg}"
        )
    best = "greatest(" + ", ".join(f"c_{lg}" for lg in langs) + ")"
    pred = "CASE WHEN has_cjk THEN 'zh' WHEN " + best + " <= 0 THEN 'und' "
    for lg in langs:
        pred += f"WHEN c_{lg} = {best} THEN '{lg}' "
    pred += "END"
    return f"""WITH raw AS (
  SELECT doc_id AS docid, lower(t) AS term
  FROM (SELECT doc_id, unnest(regexp_extract_all(text, {_PAT})) AS t FROM documents)
  WHERE t <> ''
),
cjk AS (
  SELECT doc_id AS docid, regexp_matches(text, '[一-鿿]') AS has_cjk FROM documents
),
c AS (
  SELECT d.doc_id AS docid, coalesce(k.has_cjk, FALSE) AS has_cjk,
         {", ".join(counts)}
  FROM documents d
  LEFT JOIN raw t ON t.docid = d.doc_id
  LEFT JOIN cjk k ON k.docid = d.doc_id
  GROUP BY 1, 2
)
SELECT ({pred}) AS pred_lang, count(*) AS n
FROM c GROUP BY 1 ORDER BY 1"""


def quality_sql(max_docid: int = 50) -> str:
    return f"""WITH raw AS (
  SELECT doc_id AS docid, t AS term
  FROM (SELECT doc_id, unnest(regexp_extract_all(text, {_PAT})) AS t FROM documents
        WHERE doc_id < {max_docid})
  WHERE t <> ''
),
agg AS (
  SELECT d.doc_id AS docid,
         count(t.term) AS n_tokens,
         count(CASE WHEN lower(t.term) IN {_STOP} THEN 1 END) AS n_stop,
         coalesce(sum(length(t.term)), 0) AS sum_len,
         any_value(d.text) AS text
  FROM documents d LEFT JOIN raw t ON t.docid = d.doc_id
  WHERE d.doc_id < {max_docid}
  GROUP BY 1
),
m AS (
  SELECT docid, n_tokens,
         CASE WHEN n_tokens > 0 THEN 1.0 * n_stop / n_tokens ELSE 0.0 END AS stop_ratio,
         CASE WHEN n_tokens > 0 THEN 1.0 * sum_len / n_tokens ELSE 0.0 END AS mean_len,
         CASE WHEN length(text) > 0
              THEN 1.0 * length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g')) / length(text)
              ELSE 0.0 END AS punct_ratio
  FROM agg
)
SELECT docid, n_tokens, round(stop_ratio, 4) AS stop_ratio,
       round(mean_len, 4) AS mean_token_len,
       round(punct_ratio, 4) AS punct_ratio,
       round(0.4 * least(CAST(n_tokens AS DOUBLE), 100.0) / 100.0
             + 0.3 * (1.0 - abs(stop_ratio - 0.4))
             + 0.2 * (1.0 - punct_ratio)
             + 0.1 * least(mean_len, 8.0) / 8.0, 4) AS quality
FROM m ORDER BY docid"""


def token_stats_sql(max_docid: int = 50) -> str:
    return f"""WITH {tok_cte(f'(SELECT doc_id, text FROM documents WHERE doc_id < {max_docid})')},
per AS (
  SELECT d.doc_id AS docid,
         len(list_filter(string_split(d.text, ' '), x -> x <> '')) AS n_ws_tokens,
         len(regexp_extract_all(d.text, {_PAT})) AS n_raw_tokens
  FROM documents d WHERE d.doc_id < {max_docid}
),
terms AS (
  SELECT docid, count(*) AS n_terms, count(DISTINCT term) AS n_distinct_terms
  FROM tok GROUP BY 1
)
SELECT p.docid, p.n_ws_tokens, p.n_raw_tokens,
       coalesce(t.n_terms, 0) AS n_terms,
       coalesce(t.n_distinct_terms, 0) AS n_distinct_terms,
       round(CASE WHEN coalesce(t.n_terms, 0) > 0
                  THEN 1.0 * t.n_distinct_terms / t.n_terms ELSE 0.0 END, 4) AS ttr
FROM per p LEFT JOIN terms t ON t.docid = p.docid
ORDER BY p.docid"""


def fingerprint_sql(max_docid: int = 100) -> str:
    h = hash64_sql("term || '@' || CAST(rn AS VARCHAR)")
    return f"""WITH {tok_cte(f'(SELECT doc_id, text FROM documents WHERE doc_id < {max_docid})')}
SELECT d.doc_id AS docid,
       CAST(coalesce(sum({h} % 4294967296), 0) % {FP_MOD} AS BIGINT) AS fingerprint
FROM documents d LEFT JOIN ord ON ord.docid = d.doc_id
WHERE d.doc_id < {max_docid}
GROUP BY 1 ORDER BY 1"""


# ---------------------------------------------------------------------------
# embeddings
# ---------------------------------------------------------------------------

def _coef_list_sql(coeffs: list[float]) -> str:
    return "[" + ", ".join(repr(c) for c in coeffs) + "]"


def cosine_topk_sql(query_id: int = 0, k: int = 10) -> str:
    return f"""WITH q AS (
  SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = {query_id}
)
SELECT vec_id,
       round(list_dot_product(CAST(embedding AS DOUBLE[]), q.qv)
             / (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])))
                * sqrt(list_dot_product(q.qv, q.qv))), 4) AS cosine
FROM embeddings CROSS JOIN q
WHERE vec_id <> {query_id}
ORDER BY cosine DESC, vec_id ASC LIMIT {k}"""


def embedding_near_dup_sql(planes: int, coeffs: list[list[float]], threshold: float = 0.999) -> str:
    bucket_terms = " + ".join(
        f"(CASE WHEN list_dot_product(v, {_coef_list_sql(coeffs[p])}) >= 0 "
        f"THEN CAST({1 << p} AS BIGINT) ELSE 0 END)"
        for p in range(planes)
    )
    return f"""WITH aug AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
  UNION ALL
  SELECT vec_id + 10000, CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id < 10
),
b AS (SELECT vec_id, v, ({bucket_terms}) AS bucket FROM aug),
pairs AS (
  SELECT a.vec_id AS vec_id_a, c.vec_id AS vec_id_b,
         round(list_dot_product(a.v, c.v)
               / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(c.v, c.v))), 4) AS cosine
  FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id
)
SELECT * FROM pairs WHERE cosine >= {threshold} ORDER BY vec_id_a, vec_id_b"""


# ---------------------------------------------------------------------------
# multimodal (over the synthetic pages html reconstructed from documents)
# ---------------------------------------------------------------------------

HTML_EXPR = (
    "'<html><head><title>doc ' || CAST(doc_id AS VARCHAR) || "
    "'</title></head><body><p>' || text || '</p></body></html>'"
)

URL_EXPR = (
    "'https://site' || CAST(doc_id % 100 AS VARCHAR) || '.example/doc/' || "
    "CAST(doc_id AS VARCHAR)"
)


def media_metadata_sql(max_docid: int = 50) -> str:
    return f"""SELECT {URL_EXPR} AS url,
       octet_length(encode({HTML_EXPR})) AS n_bytes,
       md5({HTML_EXPR}) AS sha
FROM documents WHERE doc_id < {max_docid} ORDER BY doc_id"""


def decode_media_sql(max_docid: int = 50) -> str:
    """Replays the deterministic fake decode from the md5 hex digest."""
    h = f"md5({HTML_EXPR})"
    return f"""WITH d AS (
  SELECT doc_id, {URL_EXPR} AS url, {h} AS hx,
         octet_length(encode({HTML_EXPR})) AS n_bytes
  FROM documents WHERE doc_id < {max_docid}
)
SELECT url, n_bytes,
       320 + CAST(('0x' || substr(hx, 1, 4)) AS INT) % 1600 AS width,
       240 + CAST(('0x' || substr(hx, 5, 4)) AS INT) % 840 AS height,
       (['png', 'jpeg', 'webp', 'gif'])[1 + CAST(('0x' || substr(hx, 9, 2)) AS INT) % 4] AS format
FROM d ORDER BY doc_id"""


def sample_frames_sql(n_frames: int = 2, max_docid: int = 20) -> str:
    return f"""WITH d AS (
  SELECT doc_id, {URL_EXPR} AS url, {HTML_EXPR} AS html
  FROM documents WHERE doc_id < {max_docid}
)
SELECT url, i AS frame_idx, md5(html || '|frame' || CAST(i AS VARCHAR)) AS frame_sha
FROM d CROSS JOIN unnest(range({n_frames})) AS t(i)
ORDER BY url, frame_idx"""


def ivf_topk_sql(
    n_centroids: int = 8,
    n_probe: int = 2,
    query_id: int = 0,
    k: int = 10,
) -> str:
    """IVF-flat ANN oracle: the whole pipeline — deterministic init
    (vec_id < C), one Lloyd round with grid-quantized means, final
    assignment, probe selection, exact cosine inside probed cells — derived
    from the parquet alone, mirroring textops/similarity.ivf_train/ivf_topk
    formula-for-formula ((dxx - 2*dxc) + dcc distances, floor(x*1e6 + 0.5)
    integer component sums, (sq/n)/1e6 means, smallest-cid ties)."""
    dist = (
        "(list_dot_product({a}, {a}) - 2.0 * list_dot_product({a}, {b}))"
        " + list_dot_product({b}, {b})"
    )
    d_ec0 = dist.format(a="e.v", b="c0.cv")
    d_ec1 = dist.format(a="e.v", b="c1.cv")
    d_qc1 = dist.format(a="q.qv", b="c1.cv")
    return f"""WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
c0 AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < {n_centroids}),
a0 AS (
  SELECT vec_id, cid FROM (
    SELECT e.vec_id, c0.cid,
           row_number() OVER (
             PARTITION BY e.vec_id ORDER BY {d_ec0} ASC, c0.cid ASC
           ) AS rn
    FROM e CROSS JOIN c0
  ) WHERE rn = 1
),
comp AS (
  SELECT cid, d,
         CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) AS qq
  FROM (
    SELECT a0.cid,
           unnest(range(1, len(em.embedding) + 1)) AS d,
           unnest(em.embedding) AS x
    FROM embeddings em JOIN a0 ON a0.vec_id = em.vec_id
  )
),
cm AS (
  SELECT cid, list((sq / n) / 1000000.0 ORDER BY d) AS cv
  FROM (SELECT cid, d, sum(qq) AS sq, count(*) AS n FROM comp GROUP BY 1, 2)
  GROUP BY cid
),
c1 AS (
  SELECT c0.cid, coalesce(cm.cv, c0.cv) AS cv
  FROM c0 LEFT JOIN cm ON cm.cid = c0.cid
),
a1 AS (
  SELECT vec_id, cid FROM (
    SELECT e.vec_id, c1.cid,
           row_number() OVER (
             PARTITION BY e.vec_id ORDER BY {d_ec1} ASC, c1.cid ASC
           ) AS rn
    FROM e CROSS JOIN c1
  ) WHERE rn = 1
),
q AS (SELECT v AS qv FROM e WHERE vec_id = {query_id}),
probe AS (
  SELECT cid FROM c1 CROSS JOIN q
  ORDER BY {d_qc1} ASC, cid ASC LIMIT {n_probe}
)
SELECT e.vec_id,
       round(list_dot_product(e.v, q.qv)
             / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(q.qv, q.qv))),
             4) AS cosine
FROM e JOIN a1 ON a1.vec_id = e.vec_id CROSS JOIN q
WHERE a1.cid IN (SELECT cid FROM probe) AND e.vec_id <> {query_id}
ORDER BY cosine DESC, e.vec_id ASC LIMIT {k}"""


def _ivf_assign_ctes(n_centroids: int) -> str:
    """Shared CTE prefix: embeddings -> deterministic init -> one Lloyd
    round with grid-quantized means -> final assignment ``a1`` (the same
    text ivf_topk_sql proves against test_ivf)."""
    dist = (
        "(list_dot_product({a}, {a}) - 2.0 * list_dot_product({a}, {b}))"
        " + list_dot_product({b}, {b})"
    )
    d_ec0 = dist.format(a="e.v", b="c0.cv")
    d_ec1 = dist.format(a="e.v", b="c1.cv")
    return f"""e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
c0 AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < {n_centroids}),
a0 AS (
  SELECT vec_id, cid FROM (
    SELECT e.vec_id, c0.cid,
           row_number() OVER (
             PARTITION BY e.vec_id ORDER BY {d_ec0} ASC, c0.cid ASC
           ) AS rn
    FROM e CROSS JOIN c0
  ) WHERE rn = 1
),
comp AS (
  SELECT cid, d,
         CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) AS qq
  FROM (
    SELECT a0.cid,
           unnest(range(1, len(em.embedding) + 1)) AS d,
           unnest(em.embedding) AS x
    FROM embeddings em JOIN a0 ON a0.vec_id = em.vec_id
  )
),
cm AS (
  SELECT cid, list((sq / n) / 1000000.0 ORDER BY d) AS cv
  FROM (SELECT cid, d, sum(qq) AS sq, count(*) AS n FROM comp GROUP BY 1, 2)
  GROUP BY cid
),
c1 AS (
  SELECT c0.cid, coalesce(cm.cv, c0.cv) AS cv
  FROM c0 LEFT JOIN cm ON cm.cid = c0.cid
),
a1 AS (
  SELECT vec_id, cid FROM (
    SELECT e.vec_id, c1.cid,
           row_number() OVER (
             PARTITION BY e.vec_id ORDER BY {d_ec1} ASC, c1.cid ASC
           ) AS rn
    FROM e CROSS JOIN c1
  ) WHERE rn = 1
)"""


def semdedup_pairs_sql(n_centroids: int = 8, threshold: float = 0.95) -> str:
    """SemDeDup oracle: within-cluster cosine pairs over the one-round
    Lloyd assignment (mirrors textops/similarity.semdedup_pairs)."""
    return f"""WITH {_ivf_assign_ctes(n_centroids)},
wc AS (SELECT e.vec_id, e.v, a1.cid FROM e JOIN a1 USING (vec_id))
SELECT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b,
       round(list_dot_product(a.v, b.v)
             / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))),
             4) AS cosine
FROM wc a JOIN wc b ON a.cid = b.cid AND a.vec_id < b.vec_id
WHERE round(list_dot_product(a.v, b.v)
            / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))),
            4) >= {threshold!r}
ORDER BY vec_id_a ASC, vec_id_b ASC"""


def near_dup_components_sql(
    num_perm: int = 8, bands: int = 4, threshold: float = 0.5
) -> str:
    """Connected components over the MinHash-LSH pair graph (the dedup
    cluster-formation step): same pair CTEs as near_dup_pairs_sql, then a
    WITH RECURSIVE reachability closure — component = min reachable docid,
    keep = (docid == component)."""
    rows = num_perm // bands
    band_selects = []
    for b in range(bands):
        cols = " || '|' || ".join(
            f"CAST(mh{b * rows + r} AS VARCHAR)" for r in range(rows)
        )
        bucket_h = hash64_sql("'" + str(b) + "' || '|' || " + cols)
        band_selects.append(f"SELECT docid, {bucket_h} AS bucket FROM sig")
    buckets = "\n  UNION ALL ".join(band_selects)
    return f"""WITH RECURSIVE {AUG_DOCS},
{tok_cte('aug')},
{SHINGLES_CTE},
{_sig_cte(num_perm)},
buckets AS (
  {buckets}
),
cand AS (
  SELECT DISTINCT a.docid AS docid_a, b.docid AS docid_b
  FROM buckets a JOIN buckets b ON a.bucket = b.bucket AND a.docid < b.docid
),
sizes AS (SELECT docid, count(*) AS n FROM sh GROUP BY docid),
common AS (
  SELECT c.docid_a, c.docid_b, count(*) AS n_common
  FROM cand c
  JOIN sh sa ON sa.docid = c.docid_a
  JOIN sh sb ON sb.docid = c.docid_b AND sb.shingle = sa.shingle
  GROUP BY 1, 2
),
pairs AS (
  SELECT c.docid_a, c.docid_b
  FROM cand c
  LEFT JOIN common cm ON cm.docid_a = c.docid_a AND cm.docid_b = c.docid_b
  JOIN sizes na ON na.docid = c.docid_a
  JOIN sizes nb ON nb.docid = c.docid_b
  WHERE 1.0 * coalesce(cm.n_common, 0)
        / (na.n + nb.n - coalesce(cm.n_common, 0)) >= {threshold}
),
nodes AS (SELECT DISTINCT CAST(doc_id AS BIGINT) AS docid FROM aug),
edges AS (
  SELECT docid_a AS a, docid_b AS b FROM pairs
  UNION ALL
  SELECT docid_b AS a, docid_a AS b FROM pairs
),
reach(docid, r) AS (
  SELECT docid, docid FROM nodes
  UNION
  SELECT re.docid, e.b FROM reach re JOIN edges e ON e.a = re.r
)
SELECT docid, min(r) AS component, (docid = min(r)) AS keep
FROM reach GROUP BY docid
ORDER BY docid ASC"""


def pq_topk_sql(
    m: int = 4,
    ksub: int = 8,
    dims: int = 64,
    query_id: int = 0,
    k: int = 10,
) -> str:
    """IVF-PQ / ADC oracle: per-subspace codebooks re-derived from the
    parquet exactly as textops/similarity.pq_train does (smallest-id init,
    one grid-quantized Lloyd round, smallest-cid ties), codes by final
    assignment, approx distance = sum of the query's per-subspace
    lookup-table entries (Jégou et al. ADC) — formula-for-formula the
    Spark path's ((dxx - 2*dxc) + dcc) arithmetic on DuckDB list slices."""
    subdim = dims // m
    dist = (
        "(list_dot_product({a}, {a}) - 2.0 * list_dot_product({a}, {b}))"
        " + list_dot_product({b}, {b})"
    )
    ctes = ["""e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
)"""]
    joins = []
    approx_parts = []
    for s in range(m):
        lo, hi = s * subdim + 1, (s + 1) * subdim
        sub = f"e.v[{lo}:{hi}]"
        d_ec0 = dist.format(a=sub, b="c0.cv")
        d_ec1 = dist.format(a=sub, b="c1.cv")
        d_qc1 = dist.format(a=f"q.qv[{lo}:{hi}]", b="c1.cv")
        ctes.append(f"""cs0_{s} AS (
  SELECT vec_id AS cid, v[{lo}:{hi}] AS cv FROM e WHERE vec_id < {ksub}
)""")
        ctes.append(f"""as0_{s} AS (
  SELECT vec_id, cid FROM (
    SELECT e.vec_id, c0.cid,
           row_number() OVER (
             PARTITION BY e.vec_id ORDER BY {dist.format(a=sub, b="c0.cv")} ASC, c0.cid ASC
           ) AS rn
    FROM e CROSS JOIN cs0_{s} c0
  ) WHERE rn = 1
)""")
        ctes.append(f"""comp_{s} AS (
  SELECT cid, d,
         CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) AS qq
  FROM (
    SELECT a0.cid,
           unnest(range(1, {subdim} + 1)) AS d,
           unnest(e.v[{lo}:{hi}]) AS x
    FROM e JOIN as0_{s} a0 ON a0.vec_id = e.vec_id
  )
)""")
        ctes.append(f"""cm_{s} AS (
  SELECT cid, list((sq / n) / 1000000.0 ORDER BY d) AS cv
  FROM (SELECT cid, d, sum(qq) AS sq, count(*) AS n FROM comp_{s} GROUP BY 1, 2)
  GROUP BY cid
)""")
        ctes.append(f"""cs1_{s} AS (
  SELECT c0.cid, coalesce(cm.cv, c0.cv) AS cv
  FROM cs0_{s} c0 LEFT JOIN cm_{s} cm ON cm.cid = c0.cid
)""")
        ctes.append(f"""code_{s} AS (
  SELECT vec_id, cid FROM (
    SELECT e.vec_id, c1.cid,
           row_number() OVER (
             PARTITION BY e.vec_id ORDER BY {d_ec1} ASC, c1.cid ASC
           ) AS rn
    FROM e CROSS JOIN cs1_{s} c1
  ) WHERE rn = 1
)""")
        ctes.append(f"""adc_{s} AS (
  SELECT c1.cid, {d_qc1} AS t FROM cs1_{s} c1 CROSS JOIN q
)""")
        joins.append(
            f"JOIN code_{s} k{s} ON k{s}.vec_id = e.vec_id "
            f"JOIN adc_{s} a{s} ON a{s}.cid = k{s}.cid"
        )
        approx_parts.append(f"a{s}.t")
    q_cte = f"q AS (SELECT v AS qv FROM e WHERE vec_id = {query_id})"
    ctes.insert(1, q_cte)
    body = ",\n".join(ctes)
    joins_sql = "\n  ".join(joins)
    approx = " + ".join(approx_parts)
    return f"""WITH {body}
SELECT e.vec_id, round({approx}, 4) AS approx_dist
FROM e
  {joins_sql}
WHERE e.vec_id <> {query_id}
ORDER BY approx_dist ASC, e.vec_id ASC LIMIT {k}"""
