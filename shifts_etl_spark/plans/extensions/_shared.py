"""Imports and the helpers/constants used by more than one family module."""


from __future__ import annotations

from pyspark.sql import Window, functions as F

from ...operators import bloom, clustering, countmin, curation, dedup, funnel, heavyhitters, multimodal, profile, simsearch, textstats, theta
from ...operators.profile import profile_table
from ...sources.tables import load_table as _t


# --------------------------------------------------------------------------
# dedup
# --------------------------------------------------------------------------

# DuckDB mirror of textstats.normalize_text + tokens (shared by many oracles;
# named after its first user, the x67 components oracle)
_X67_NORM = (
    r"list_filter(regexp_split_to_array(trim(regexp_replace(regexp_replace("
    r"lower(text), '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g')), '\s+'), "
    r"t -> t <> '')"
)


def _hex12_int_sql(hx: str) -> str:
    """DuckDB base-16 positional fold of the first 12 hex chars of column
    ``hx`` — equals Spark's conv(substring(md5, 1, 12), 16, 10)::long."""
    return "(" + " + ".join(
        f"CAST(ascii(substring({hx}, {i}, 1)) - CASE WHEN "
        f"ascii(substring({hx}, {i}, 1)) >= 97 THEN 87 ELSE 48 END AS BIGINT)"
        f" * {16 ** (12 - i)}"
        for i in range(1, 13)
    ) + ")"


_X3_SHN = r"""
shn AS (
  SELECT doc_id,
         CASE WHEN len(toks) >= 3
              THEN [array_to_string(toks[i:i+2], ' ') for i in generate_series(1, len(toks) - 2)]
              WHEN len(toks) > 0
              THEN [array_to_string(toks, ' ')]
              ELSE CAST([] AS VARCHAR[])
         END AS sh
  FROM norm
),
flat AS (SELECT DISTINCT doc_id, unnest(sh) AS s FROM shn)"""

X3_SQL = rf"""
WITH norm AS (
  SELECT doc_id, {{norm}} AS toks FROM documents
),{_X3_SHN},
hs AS (
  SELECT doc_id, j, md5(s || '#' || CAST(j AS VARCHAR)) AS hx
  FROM flat, unnest(generate_series(0, 63)) AS u(j)
),
hv AS (SELECT doc_id, j, {_hex12_int_sql('hx')} AS h FROM hs),
sigs AS (
  SELECT doc_id, list(h ORDER BY j) AS sig
  FROM (SELECT doc_id, j, MIN(h) AS h FROM hv GROUP BY 1, 2)
  GROUP BY doc_id
),
bandh AS (
  SELECT doc_id, sig, b,
         md5(array_to_string(sig[b * 4 + 1:b * 4 + 4], ',') || '#' || CAST(b AS VARCHAR)) AS hx
  FROM sigs, unnest(generate_series(0, 15)) AS u(b)
),
banded AS (SELECT doc_id, sig, b AS band, {_hex12_int_sql('hx')} AS band_hash FROM bandh),
kept AS (
  SELECT * FROM banded
  QUALIFY count(*) OVER (PARTITION BY band, band_hash) <= 500
),
pairs AS (
  SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b,
         len([i for i in generate_series(1, 64) if l.sig[i] = r.sig[i]]) / 64.0 AS est_jaccard
  FROM kept l JOIN kept r ON l.band = r.band AND l.band_hash = r.band_hash
  WHERE l.doc_id < r.doc_id
)
SELECT id_a, id_b, est_jaccard FROM pairs
""".replace("{norm}", _X67_NORM)


def _sign_band_ctes(
    join: str = "ON pl.i = e.i - 1",
    a: str = "e",
    n_planes: int = 32,
    bands: int = 4,
) -> str:
    """The pw/planes/proj/bkeys CTE block of the x8 md5 sign-LSH family
    (``n_planes`` planes over 64 dims, ``bands`` bands of
    n_planes/bands bits — defaults match add_det_lsh_signature's
    32/4) — ONE definition shared by every banded-candidate oracle
    (X6/X121, Y2, X76, X36, X239, and the knob twins), so the plane
    family can never drift between siblings. ``join`` adapts to the
    site's elem CTE subscript base: a 0-based elem joins ``USING (i)``;
    a 1-based elem joins ``ON pl.i = <alias>.i - 1``. Must appear AFTER
    the site's elem CTE (proj reads it)."""
    assert n_planes % bands == 0
    r = n_planes // bands  # bits per band, MSB-first packing
    return f"""pw AS (
  SELECT p, i,
         md5(CAST(p AS VARCHAR) || ':' || CAST(i AS VARCHAR) || '#lshw') AS hx
  FROM range({n_planes}) tp(p), range(64) ti(i)
),
planes AS (
  SELECT p, i,
         CASE ({_hex12_int_sql("hx")} % 6) WHEN 0 THEN 1 WHEN 1 THEN -1 ELSE 0 END AS w
  FROM pw
),
proj AS (
  SELECT {a}.vec_id, pl.p,
         SUM(CAST(floor({a}.v * 1000000.0) AS BIGINT) * pl.w) AS s
  FROM elem {a} JOIN planes pl {join}
  GROUP BY 1, 2
),
bkeys AS (
  SELECT vec_id, p // {r} AS band,
         SUM(CASE WHEN s >= 0 THEN CAST(1 AS BIGINT) ELSE 0 END
             * (CAST(1 AS BIGINT) << CAST({r - 1} - (p % {r}) AS INT))) AS key
  FROM proj GROUP BY 1, 2
),"""


# Since r9 (the x6/x121 re-key): the X239 md5 sign-LSH chain with a label
# equality ANDed into hot detection and the candidate join — within-label
# NN among (label ∧ band-bucket) candidates, pair work capped per bucket.
# The legacy all-in-label brute-force oracle is gone with the quadratic
# default it mirrored.
X6_SQL = f"""
WITH elem AS (
  SELECT vec_id, label, CAST(unnest(embedding) AS DOUBLE) AS v,
         generate_subscripts(embedding, 1) - 1 AS i
  FROM embeddings
),
{_sign_band_ctes(join="USING (i)")}
buckets AS (
  SELECT b.vec_id, e.label, b.band * 4294967296 + b.key AS bucket
  FROM bkeys b JOIN embeddings e USING (vec_id)
),
hot AS (
  SELECT label, bucket FROM buckets GROUP BY 1, 2 HAVING count(*) > 64
),
cool AS (
  SELECT vec_id, label, bucket FROM buckets bu
  WHERE NOT EXISTS (SELECT 1 FROM hot h
                    WHERE h.label = bu.label AND h.bucket = bu.bucket)
),
cand AS (
  SELECT DISTINCT a.vec_id AS vec_id, c.vec_id AS neighbor_id
  FROM cool a JOIN cool c ON a.label = c.label AND a.bucket = c.bucket
  WHERE a.vec_id <> c.vec_id
),
norms AS (SELECT vec_id, sqrt(SUM(v * v)) AS nrm FROM elem GROUP BY 1),
dots AS (
  SELECT c.vec_id, c.neighbor_id, SUM(q.v * n.v) AS dot
  FROM cand c
  JOIN elem q ON q.vec_id = c.vec_id
  JOIN elem n ON n.vec_id = c.neighbor_id AND n.i = q.i
  GROUP BY 1, 2
),
sims AS (
  SELECT d.vec_id, d.neighbor_id,
         round(d.dot / (na.nrm * nb.nrm), 6) AS cosine
  FROM dots d
  JOIN norms na ON d.vec_id = na.vec_id
  JOIN norms nb ON d.neighbor_id = nb.vec_id
),
ranked AS (
  SELECT vec_id, neighbor_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cosine DESC, neighbor_id) AS rn
  FROM sims
)
SELECT vec_id, neighbor_id, cosine, cosine >= 0.9 AS is_near_dup
FROM ranked WHERE rn = 1
"""


_STOP_EN = "['the','a','of','and','to','in','is']"


def _kmeans_cells_sql(k: int = 8, iters: int = 3, dec: int = 6) -> str:
    """Unrolled Lloyd iterations as a DuckDB CTE chain, mirroring
    clustering.kmeans_fit(init="first", round_decimals=dec) exactly:
    cent0 = k lowest-id vectors; per iteration assign (rounded dist²,
    lower-cid tie-break) then recompute rounded means (empty cells carry
    the previous centroid); a final assignment against cent{iters}
    mirrors assign_cells. Returns the CTE prefix ending with the final
    assignment CTE a{iters+1}(vec_id, cell)."""
    parts = [
        f"""WITH elem AS (
  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
         generate_subscripts(embedding, 1) AS i
  FROM embeddings
),
kinit AS (
  SELECT vec_id, CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cid
  FROM (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT {k})
),
cent0 AS (SELECT n.cid, e.i, e.v AS c FROM elem e JOIN kinit n USING (vec_id))"""
    ]
    for t in range(1, iters + 2):
        p = t - 1
        parts.append(
            f"""d{t} AS (
  SELECT e.vec_id, c.cid, round(SUM((e.v - c.c) * (e.v - c.c)), {dec}) AS d
  FROM elem e JOIN cent{p} c ON e.i = c.i GROUP BY 1, 2
),
a{t} AS (
  SELECT vec_id, cid AS cell FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
    FROM d{t}
  ) WHERE rn = 1
)"""
        )
        if t <= iters:
            parts.append(
                f"""m{t} AS (
  SELECT a.cell AS cid, e.i, round(AVG(e.v), {dec}) AS c
  FROM elem e JOIN a{t} a USING (vec_id) GROUP BY 1, 2
),
cent{t} AS (
  SELECT p.cid, p.i, COALESCE(m.c, p.c) AS c
  FROM cent{p} p LEFT JOIN m{t} m ON m.cid = p.cid AND m.i = p.i
)"""
            )
    return ",\n".join(parts)


X67_SQL = rf"""
WITH RECURSIVE norm AS MATERIALIZED (
  SELECT doc_id, {_X67_NORM} AS toks FROM documents
),
shn AS MATERIALIZED (
  SELECT doc_id,
         CASE WHEN len(toks) >= 3
              THEN list_distinct([array_to_string(toks[i:i+2], ' ') for i in generate_series(1, len(toks) - 2)])
              WHEN len(toks) > 0
              THEN [array_to_string(toks, ' ')]
              ELSE CAST([] AS VARCHAR[])
         END AS sh
  FROM norm
),
flat AS MATERIALIZED (SELECT DISTINCT doc_id, unnest(sh) AS s FROM shn),
rare AS MATERIALIZED (SELECT s FROM flat GROUP BY s HAVING count(*) BETWEEN 2 AND 5),
cand AS MATERIALIZED (
  SELECT DISTINCT a.doc_id AS ia, b.doc_id AS ib
  FROM flat a JOIN rare USING (s) JOIN flat b USING (s)
  WHERE a.doc_id < b.doc_id
),
conf AS MATERIALIZED (
  SELECT ia, ib
  FROM cand JOIN shn x ON x.doc_id = ia JOIN shn y ON y.doc_id = ib
  WHERE round(CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
        / len(list_distinct(list_concat(x.sh, y.sh))), 6) >= 0.3
),
edges AS MATERIALIZED (SELECT ia AS a, ib AS b FROM conf UNION SELECT ib, ia FROM conf),
reach AS (
  SELECT a AS node, a AS r FROM edges
  UNION
  SELECT e.a AS node, reach.r AS r FROM edges e JOIN reach ON reach.node = e.b
)
SELECT node AS doc, MIN(r) AS cluster_id FROM reach GROUP BY node
"""


_X73_U = lambda col: " + ".join(  # noqa: E731 — SQL macro, mirrors _hex_uniform_int
    f"(ascii(substring({col}, {i}, 1)) - CASE WHEN ascii(substring({col}, {i}, 1)) >= 97 "
    f"THEN 87 ELSE 48 END) * {16 ** (6 - i)}"
    for i in range(1, 7)
)


# auto-sized bucket modulus (ceil(N/256) — constant occupancy, linear
# pair work), the r8 X185/X220/Y6 surgery text; in _shared since r9 so
# the curation-family oracles (x73) can apply the same flip
_AUTOBKT = (
    "% (SELECT greatest(CAST(1 AS BIGINT),"
    " CAST(ceil(count(*) / 256.0) AS BIGINT)) FROM embeddings) AS bkt"
)


# --------------------------------------------------------------------------
# y — round-3 additions (verdict r2 #7: LM-quality scoring, hard-negative
# mining, embedding covariance, cross-split n-gram contamination)
# --------------------------------------------------------------------------

# the x24/x53 md5 split, shared by y1/y4 oracles
_Y_SPLIT_INNER = (
    "(ascii(substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)) * 256"
    " + ascii(substring(md5(CAST(doc_id AS VARCHAR)), 2, 1))) % 100"
)
_Y_SPLIT_CASE = "CASE WHEN b < 5 THEN 'val' WHEN b < 15 THEN 'test' ELSE 'train' END"


def _split_docs(spark, sf_dir):
    """documents + the deterministic x24 md5 split assignment."""
    docs = _t(spark, sf_dir, "documents")
    h = F.md5(F.col("doc_id").cast("string"))
    bucket = (
        F.ascii(F.substring(h, 1, 1)) * 256 + F.ascii(F.substring(h, 2, 1))
    ) % 100
    split = (
        F.when(bucket < 5, "val").when(bucket < 15, "test").otherwise("train")
    )
    return docs.withColumn("split", split)



_X19X_DAILY = """
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS cents
  FROM orders GROUP BY 1
"""
